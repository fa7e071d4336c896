"""Streaming-semantics tests: AvailableNow drain (EOF flush), batch
boundaries, windowed/sessionized aggregation (SURVEY §5.2 item 3)."""

from __future__ import annotations

import hashlib
import json
from collections import Counter

import pandas as pd
import pytest
from pyspark.sql import functions as F

from kinesis_log_streamer_spark.plans import queries as Q
from kinesis_log_streamer_spark.streaming.kinesis_sink import (
    CollectingSink,
    chunk_records,
)
from kinesis_log_streamer_spark.streaming.pipeline import (
    build_line_pipeline,
    run_stream,
    windowed_event_counts,
)

SF = "/root/testdata/sf0.001"


class TestChunking:
    def test_flush_at_max_records(self):
        # B1 at batch size 5 (basestreamer.go:20,37)
        rows = [(f"r{i}".encode(), "k") for i in range(12)]
        batches = list(chunk_records(rows, max_records=5))
        assert [len(b) for b in batches] == [5, 5, 2]  # EOF drain flushes tail

    def test_flush_at_max_bytes(self):
        rows = [(b"x" * 600, "k") for _ in range(4)]
        batches = list(chunk_records(rows, max_records=500, max_bytes=1500))
        assert [len(b) for b in batches] == [2, 2]

    def test_order_preserved(self):
        rows = [(str(i).encode(), "k") for i in range(7)]
        flat = [r for b in chunk_records(rows, max_records=3) for r in b]
        assert [d for d, _ in flat] == [str(i).encode() for i in range(7)]

    def test_oversized_record_rejected(self):
        # A >1 MiB record is rejected by the API on every attempt — it
        # must fail fast, not burn retries and silently vanish.
        from kinesis_log_streamer_spark.streaming.kinesis_sink import (
            MAX_BYTES_PER_RECORD,
        )

        rows = [(b"x" * (MAX_BYTES_PER_RECORD + 1), "k")]
        with pytest.raises(ValueError, match="per-record limit"):
            list(chunk_records(rows))


class TestNullData:
    """A NULL ``data`` column must fail loudly, not ship ``b"None"``."""

    def test_collecting_sink_rejects_null_data(self, spark):
        df = spark.createDataFrame(
            [("ok", "k1"), (None, "host-7")], "data string, partitionKey string"
        )
        with pytest.raises(ValueError, match="NULL data.*host-7"):
            CollectingSink().write_batch(df, epoch_id=0)

    def test_kinesis_sink_rejects_null_data(self, spark, tmp_path):
        from kinesis_log_streamer_spark.sources.kinesis_source import (
            DirKinesisClient,
        )
        from kinesis_log_streamer_spark.streaming.kinesis_sink import KinesisSink

        ep = str(tmp_path / "sink")
        df = spark.createDataFrame(
            [(None, "host-7")], "data string, partitionKey string"
        )
        sink = KinesisSink("Test", client_factory=lambda: DirKinesisClient(ep))
        with pytest.raises(Exception, match="NULL data.*host-7"):
            sink.write_batch(df, epoch_id=0)
        shipped = [p.read_bytes() for p in tmp_path.rglob("*") if p.is_file()]
        assert not any(b"None" in data for data in shipped)


class _AlwaysFailingClient:
    """put_records stub that fails the last record of every call."""

    def __init__(self):
        self.calls = 0

    def put_records(self, StreamName, Records):
        self.calls += 1
        results = [{} for _ in Records]
        results[-1] = {"ErrorCode": "ProvisionedThroughputExceededException"}
        return {"FailedRecordCount": 1, "Records": results}


class TestPutRecordsRetry:
    def test_exhausted_retries_raise_by_default(self):
        from kinesis_log_streamer_spark.streaming.kinesis_sink import (
            put_records_with_retry,
        )

        client = _AlwaysFailingClient()
        batch = [(b"a", "k1"), (b"b", "k2")]
        with pytest.raises(RuntimeError, match="still failing"):
            put_records_with_retry(
                client, "s", batch, max_retries=2, backoff_s=0.0
            )
        assert client.calls == 3  # initial + 2 retries

    def test_on_drop_receives_dead_letters(self):
        from kinesis_log_streamer_spark.streaming.kinesis_sink import (
            put_records_with_retry,
        )

        dropped: list = []
        batch = [(b"a", "k1"), (b"b", "k2")]
        n = put_records_with_retry(
            _AlwaysFailingClient(),
            "s",
            batch,
            max_retries=1,
            backoff_s=0.0,
            on_drop=dropped.extend,
        )
        assert n == 1
        assert dropped == [(b"b", "k2")]


class _ErroringClient:
    """put_records stub whose call itself raises (API/transport error —
    the reference's ``err != nil`` branch, basestreamer.go:73-75)."""

    def __init__(self):
        self.calls = 0

    def put_records(self, StreamName, Records):
        self.calls += 1
        raise ConnectionError("simulated transport failure")


class TestAtMostOnceParity:
    """Strict-parity delivery mode vs basestreamer.go:64-87: one call,
    no retry, log-and-drop, never raise."""

    def test_partial_failure_drops_failed_only_no_retry(self):
        from kinesis_log_streamer_spark.streaming.kinesis_sink import (
            put_records_at_most_once,
        )

        client = _AlwaysFailingClient()
        dropped: list = []
        batch = [(b"a", "k1"), (b"b", "k2")]
        n = put_records_at_most_once(
            client, "s", batch, on_drop=dropped.extend
        )
        assert n == 1  # only the failed record is lost
        assert client.calls == 1  # the reference NEVER retries
        assert dropped == [(b"b", "k2")]

    def test_call_error_drops_whole_batch_without_raising(self):
        from kinesis_log_streamer_spark.streaming.kinesis_sink import (
            put_records_at_most_once,
        )

        client = _ErroringClient()
        dropped: list = []
        batch = [(b"a", "k1"), (b"b", "k2")]
        n = put_records_at_most_once(
            client, "s", batch, on_drop=dropped.extend
        )
        assert n == 0  # whole buffer dropped (stderr log is the only trace)
        assert client.calls == 1
        assert dropped == batch

    def test_sink_delivery_flag_validated_and_dispatched(self):
        from kinesis_log_streamer_spark.streaming.kinesis_sink import (
            KinesisSink,
        )

        sink = KinesisSink(
            "s", client_factory=_ErroringClient, delivery="at_most_once"
        )
        assert sink.delivery == "at_most_once"
        with pytest.raises(ValueError, match="delivery"):
            KinesisSink("s", delivery="exactly_once")


class TestKinesisSinkDriverWrite:
    """``KinesisSink.write_batch`` puts from the driver: the dead-letter
    hook is the caller's own object, and one client serves every
    batch."""

    @pytest.mark.parametrize("delivery", ["at_most_once", "at_least_once"])
    def test_on_drop_reaches_caller(self, spark, tmp_path, delivery):
        # at-least-once exhausts its retries on the deterministic rejects
        from kinesis_log_streamer_spark.sources.kinesis_source import (
            ThrottlingDirKinesisClient,
        )
        from kinesis_log_streamer_spark.streaming.kinesis_sink import KinesisSink

        ep = str(tmp_path / "sink")
        df = spark.createDataFrame(
            [(json.dumps({"event_id": i}), "k") for i in range(20)],
            "data string, partitionKey string",
        )
        dropped: list = []
        sink = KinesisSink(
            "Test",
            client_factory=lambda: ThrottlingDirKinesisClient(ep, reject_mod=10),
            on_drop=dropped.extend,
            delivery=delivery,
        )
        sink.write_batch(df, epoch_id=0)
        assert sorted(dropped) == sorted(
            (json.dumps({"event_id": i}).encode(), "k") for i in (0, 10)
        )
        shipped = [
            json.loads(json.loads(line)["data"])["event_id"]
            for p in (tmp_path / "sink").glob("shard-*.jsonl")
            for line in p.read_text().splitlines()
        ]
        assert sorted(shipped) == [i for i in range(20) if i % 10]

    def test_client_built_once_across_batches(self, spark, tmp_path):
        from kinesis_log_streamer_spark.sources.kinesis_source import (
            DirKinesisClient,
        )
        from kinesis_log_streamer_spark.streaming.kinesis_sink import KinesisSink

        ep = str(tmp_path / "sink")
        built: list = []

        def factory():
            built.append(DirKinesisClient(ep))
            return built[-1]

        sink = KinesisSink("Test", client_factory=factory)
        for epoch in range(2):
            df = spark.createDataFrame(
                [(f"e{epoch}-{i}", f"k{i % 3}") for i in range(30)],
                "data string, partitionKey string",
            ).repartition(4)
            sink.write_batch(df, epoch_id=epoch)
        assert len(built) == 1
        shipped = [
            json.loads(line)["data"]
            for p in (tmp_path / "sink").glob("shard-*.jsonl")
            for line in p.read_text().splitlines()
        ]
        assert sorted(shipped) == sorted(
            f"e{e}-{i}" for e in range(2) for i in range(30)
        )


class TestAvailableNowDrain:
    def test_stream_drains_and_flushes(self, spark, tmp_path):
        # EOF drain: all pending input processed, tail flushed
        # (basestreamer.go:27-33 ≙ Trigger.AvailableNow)
        src = tmp_path / "in"
        src.mkdir()
        (src / "a.log").write_text("l1\nl2\n\nl3\n")
        (src / "b.log").write_text("l4\r\nl5\r\n")
        lines = spark.readStream.format("text").load(str(src))
        records = build_line_pipeline(
            lines, output_format="json",
            entries={"LogFile": "T"}, host_id="h1",
        )
        sink = CollectingSink(max_records=5)
        q = run_stream(records, sink, str(tmp_path / "ckpt"), available_now=True)
        q.awaitTermination(120)
        payloads = sorted(
            json.loads(d.decode())["LogEntry"] for d, _ in sink.records
        )
        assert payloads == ["l1", "l2", "l3", "l4", "l5"]
        assert all(k == "h1" for _, k in sink.records)
        assert all(len(b) <= 5 for b in sink.batches)


class TestWindowedAggregation:
    def test_tumbling_window_counts(self, spark, tmp_path):
        import datetime as dt

        rows = [
            (dt.datetime(2024, 1, 1, 0, m), "click", 1.0) for m in (1, 2, 9)
        ] + [(dt.datetime(2024, 1, 1, 0, 7), "view", 2.0)]
        src = spark.createDataFrame(rows, "ts timestamp, event_type string, value double")
        pq = str(tmp_path / "events_pq")
        src.write.parquet(pq)
        stream = spark.readStream.schema(src.schema).parquet(pq)
        # complete mode: emit every window each trigger (append mode would
        # hold windows until the watermark passes — covered implicitly by
        # the sessionization streaming path; here we assert window math).
        agg = windowed_event_counts(stream, window="5 minutes")
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName("win_out")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        out = spark.sql(
            "SELECT window.start AS s, event_type, n FROM win_out ORDER BY s, event_type"
        ).collect()
        got = [(r.s.minute, r.event_type, r.n) for r in out]
        assert (0, "click", 2) in got  # 00:01, 00:02
        assert (5, "click", 1) in got  # 00:09
        assert (5, "view", 1) in got  # 00:07


class TestStatefulOps:
    def test_dedup_stream_drops_duplicates(self, spark, tmp_path):
        import datetime as dt

        from kinesis_log_streamer_spark.streaming.stateful import dedup_stream

        t = dt.datetime(2024, 1, 1, 0, 0)
        rows = [(1, t, "click"), (1, t, "click"), (2, t, "view"), (2, t, "view"), (3, t, "click")]
        src = spark.createDataFrame(rows, "event_id long, ts timestamp, event_type string")
        pq = str(tmp_path / "dups_pq")
        src.coalesce(1).write.parquet(pq)
        stream = spark.readStream.schema(src.schema).parquet(pq)
        q = (
            dedup_stream(stream, keys=["event_id"])
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("dedup_out")
            .option("checkpointLocation", str(tmp_path / "ck1"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        out = spark.sql("SELECT event_id FROM dedup_out ORDER BY event_id").collect()
        assert [r.event_id for r in out] == [1, 2, 3]

    def test_stream_stream_join_time_bound(self, spark, tmp_path):
        import datetime as dt

        from kinesis_log_streamer_spark.streaming.stateful import stream_stream_join

        base = dt.datetime(2024, 1, 1, 0, 0)
        rows = [
            (10, base, "impression"),
            (10, base + dt.timedelta(minutes=2), "click"),     # within 5m -> joins
            (10, base + dt.timedelta(minutes=30), "click"),    # outside  -> dropped
            (20, base + dt.timedelta(minutes=1), "click"),     # other user, no impression
        ]
        src = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
        pq = str(tmp_path / "join_pq")
        src.coalesce(1).write.parquet(pq)

        def stream():
            return spark.readStream.schema(src.schema).parquet(pq)

        joined = stream_stream_join(
            stream().filter(F.col("event_type") == "impression"),
            stream().filter(F.col("event_type") == "click"),
        )
        q = (
            joined.writeStream.outputMode("append")
            .format("memory")
            .queryName("ssj_out")
            .option("checkpointLocation", str(tmp_path / "ck2"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        out = spark.sql("SELECT l_user, r_type FROM ssj_out").collect()
        assert [(r.l_user, r.r_type) for r in out] == [(10, "click")]

    def test_sessionize_with_state_emits_closed_sessions(self, spark, tmp_path):
        import datetime as dt
        import time

        from kinesis_log_streamer_spark.streaming.stateful import (
            sessionize_with_state,
        )

        base = dt.datetime(2024, 1, 1, 0, 0)
        rows = [
            (1, base, "login"),
            (1, base + dt.timedelta(minutes=1), "click"),
            (1, base + dt.timedelta(minutes=2), "logout"),
            (2, base, "view"),
        ]
        src = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
        pq = str(tmp_path / "sess_pq")
        src.coalesce(1).write.parquet(pq)
        stream = spark.readStream.schema(src.schema).parquet(pq)
        q = (
            sessionize_with_state(stream, idle_timeout_ms=5000)
            .writeStream.outputMode("update")
            .format("memory")
            .queryName("sess_out")
            .option("checkpointLocation", str(tmp_path / "ck3"))
            .trigger(processingTime="1 second")
            .start()
        )
        # Sessions close via processing-time timeout (5s idle); poll the
        # sink until both users' sessions are emitted.
        deadline = time.time() + 120
        n = 0
        while time.time() < deadline:
            n = spark.sql("SELECT count(*) AS c FROM sess_out").collect()[0].c
            if n >= 2:
                break
            time.sleep(2)
        q.stop()
        out = {
            r.user_id: r
            for r in spark.sql("SELECT * FROM sess_out").collect()
        }
        assert set(out) == {1, 2}
        assert out[1].n_events == 3
        assert out[1].first_type == "login" and out[1].last_type == "logout"
        assert out[2].n_events == 1


class TestKinesisSource:
    def test_stream_reads_shards_in_order(self, spark, tmp_path):
        from kinesis_log_streamer_spark.sources.kinesis_source import (
            KinesisDataSource,
            write_fake_shard,
        )

        ep = str(tmp_path / "stream")
        write_fake_shard(ep, "000", [("a1", "h1"), ("a2", "h1")])
        write_fake_shard(ep, "001", [("b1", "h2")])
        spark.dataSource.register(KinesisDataSource)
        df = (
            spark.readStream.format("kinesis_py")
            .option("endpoint", f"dir:{ep}")
            .load()
        )
        q = (
            df.writeStream.format("memory")
            .queryName("kin_out")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        rows = spark.sql(
            "SELECT * FROM kin_out ORDER BY shardId, sequenceNumber"
        ).collect()
        assert [(r.data, r.partitionKey, r.shardId, r.sequenceNumber) for r in rows] == [
            ("a1", "h1", "000", 0),
            ("a2", "h1", "000", 1),
            ("b1", "h2", "001", 0),
        ]

    def test_incremental_offsets_no_reread(self, spark, tmp_path):
        import time

        from kinesis_log_streamer_spark.sources.kinesis_source import (
            KinesisDataSource,
            write_fake_shard,
        )

        ep = str(tmp_path / "stream2")
        write_fake_shard(ep, "000", [("x1", "k")])
        spark.dataSource.register(KinesisDataSource)
        df = (
            spark.readStream.format("kinesis_py")
            .option("endpoint", f"dir:{ep}")
            .load()
        )
        q = (
            df.writeStream.format("memory")
            .queryName("kin_inc")
            .option("checkpointLocation", str(tmp_path / "ck2"))
            .trigger(processingTime="1 second")
            .start()
        )
        try:
            deadline = time.time() + 60
            while time.time() < deadline:
                if spark.sql("SELECT count(*) c FROM kin_inc").collect()[0].c >= 1:
                    break
                time.sleep(1)
            write_fake_shard(ep, "000", [("x2", "k")])
            deadline = time.time() + 60
            while time.time() < deadline:
                if spark.sql("SELECT count(*) c FROM kin_inc").collect()[0].c >= 2:
                    break
                time.sleep(1)
        finally:
            q.stop()
        rows = spark.sql("SELECT data FROM kin_inc ORDER BY sequenceNumber").collect()
        # each record delivered exactly once, appended records picked up
        assert [r.data for r in rows] == ["x1", "x2"]

    def test_sink_source_round_trip(self, spark, tmp_path):
        """Full loop with zero AWS deps: KinesisSink (PutRecords contract,
        500-record sub-batching) → DirKinesisClient hash-routes to local
        shard files → kinesis_py streaming source reads them back with
        per-shard ordering."""
        import pyspark.sql.functions as F

        from kinesis_log_streamer_spark.sources.kinesis_source import (
            DirKinesisClient,
            KinesisDataSource,
        )
        from kinesis_log_streamer_spark.streaming.kinesis_sink import KinesisSink

        ep = str(tmp_path / "roundtrip")
        src = spark.range(50).select(
            F.concat(F.lit("rec-"), F.col("id")).alias("data"),
            F.concat(F.lit("host-"), (F.col("id") % 3)).alias("partitionKey"),
        )
        sink = KinesisSink("Test", client_factory=lambda: DirKinesisClient(ep))
        sink.write_batch(src, epoch_id=0)

        spark.dataSource.register(KinesisDataSource)
        df = (
            spark.readStream.format("kinesis_py")
            .option("endpoint", f"dir:{ep}")
            .load()
        )
        q = (
            df.writeStream.format("memory")
            .queryName("kin_rt")
            .option("checkpointLocation", str(tmp_path / "ck_rt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        rows = spark.sql("SELECT * FROM kin_rt").collect()
        assert {(r.data, r.partitionKey) for r in rows} == {
            (f"rec-{i}", f"host-{i % 3}") for i in range(50)
        }
        # one partition key never straddles shards (hash routing)
        key_shards = {}
        for r in rows:
            key_shards.setdefault(r.partitionKey, set()).add(r.shardId)
        assert all(len(s) == 1 for s in key_shards.values())

    def test_source_composes_with_windowed_agg(self, spark, tmp_path):
        """The north-star pipeline: Kinesis source → JSON parse →
        watermarked tumbling-window aggregation, end to end in one
        streaming query."""
        import json

        import pyspark.sql.functions as F

        from kinesis_log_streamer_spark.sources.kinesis_source import (
            KinesisDataSource,
            write_fake_shard,
        )

        ep = str(tmp_path / "win_stream")
        payload = [
            ("2024-01-01 10:01:00", "click"),
            ("2024-01-01 10:02:00", "click"),
            ("2024-01-01 10:07:00", "view"),
        ]
        write_fake_shard(
            ep,
            "000",
            [(json.dumps({"ts": ts, "event_type": et}), "h1") for ts, et in payload],
        )
        spark.dataSource.register(KinesisDataSource)
        stream = (
            spark.readStream.format("kinesis_py")
            .option("endpoint", f"dir:{ep}")
            .load()
            .select(
                F.from_json(
                    "data", "ts timestamp, event_type string"
                ).alias("r")
            )
            .select("r.ts", "r.event_type")
        )
        agg = (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "5 minutes").start.alias("w"), "event_type")
            .count()
        )
        q = (
            agg.writeStream.format("memory")
            .queryName("kin_win")
            .outputMode("complete")
            .option("checkpointLocation", str(tmp_path / "ck_win"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            (str(r.w), r.event_type, r["count"])
            for r in spark.sql("SELECT * FROM kin_win").collect()
        }
        assert got == {
            ("2024-01-01 10:00:00", "click", 2),
            ("2024-01-01 10:05:00", "view", 1),
        }


class TestEventTimeSessionizer:
    def test_gap_split_sessions_emitted_deterministically(self, spark, tmp_path):
        import datetime as dt
        import os

        from kinesis_log_streamer_spark.streaming.stateful import (
            sessionize_by_event_time,
        )

        base = dt.datetime(2024, 1, 1, 0, 0)
        rows = [
            # user 1: two sessions split by a 45-min gap
            (1, base, "a"),
            (1, base + dt.timedelta(minutes=10), "b"),
            (1, base + dt.timedelta(minutes=55), "c"),
            # user 2: one session
            (2, base + dt.timedelta(minutes=5), "x"),
        ]
        schema = "user_id long, ts timestamp, event_type string"
        src_dir = tmp_path / "sess_src"
        src_dir.mkdir()
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(src_dir / "data")
        )
        # Two far-future sentinel batches advance the watermark past every
        # real timeout, then fire them (see _events_stream_with_flush).
        for i in (1, 2):
            p = str(src_dir / f"zz{i}")
            spark.createDataFrame(
                [(-1, base + dt.timedelta(days=i), "flush")], schema
            ).coalesce(1).write.parquet(p)
            for f in os.listdir(p):
                os.utime(
                    os.path.join(p, f), (2_000_000_000 + i, 2_000_000_000 + i)
                )

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{src_dir}/*")
        )
        q = (
            sessionize_by_event_time(stream, gap="30 minutes")
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("ets_out")
            .option("checkpointLocation", str(tmp_path / "ck_ets"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        out = spark.sql(
            "SELECT user_id, session_start, n_events, first_type, last_type "
            "FROM ets_out WHERE user_id >= 0 "
            "ORDER BY user_id, session_start"
        ).collect()
        got = [
            (r.user_id, r.session_start, r.n_events, r.first_type, r.last_type)
            for r in out
        ]
        assert got == [
            (1, base, 2, "a", "b"),
            (1, base + dt.timedelta(minutes=55), 1, "c", "c"),
            (2, base + dt.timedelta(minutes=5), 1, "x", "x"),
        ]


def _pq(name: str) -> pd.DataFrame:
    return pd.read_parquet(f"{SF}/{name}.parquet")


def _shard_no(key: str) -> int:
    return int(hashlib.md5(key.encode("utf-8")).hexdigest()[0], 16) // 2


class TestReshardPlan:
    def _expected(self) -> list[tuple]:
        ev = _pq("events")
        out = []
        for mode, keys in (
            ("by_type", ev["event_type"].astype(str).tolist()),
            ("host", ["i-0abc.example.internal"] * len(ev)),
        ):
            loads = Counter(_shard_no(k) for k in keys)
            total = sum(loads.values())
            rows = []
            for shard in range(8):
                n = loads.get(shard, 0)
                if n * 8 > 2 * total:
                    action = "split"
                    children = min(4, -(-n * 8 // total))
                elif n * 32 < total:
                    action, children = "merge", 1
                else:
                    action, children = "keep", 1
                rows.append([shard, n, n * 1000 // total, action, children])
            plan_total = sum(c for _, _, _, a, c in rows if a != "merge") + (
                sum(1 for r in rows if r[3] == "merge") + 1
            ) // 2
            out.extend(
                (mode, s, n, pm, a, c, plan_total)
                for s, n, pm, a, c in rows
            )
        return out

    def test_matches_python_recompute(self, spark):
        got = [
            (
                r.mode,
                r.shard_no,
                r.n_records,
                r.share_pm,
                r.action,
                r.n_children,
                r.plan_total_shards,
            )
            for r in Q.k07_reshard_plan(spark, SF).collect()
        ]
        assert got == self._expected()

    def test_host_mode_split_is_maximal_and_futile(self, spark):
        """The reference's host key concentrates 1000 pm on one shard;
        the planner maxes the split (4 children) while every other
        shard is a merge — the diagnosis k06 quantifies."""
        rows = [
            r
            for r in Q.k07_reshard_plan(spark, SF).collect()
            if r.mode == "host"
        ]
        hot = [r for r in rows if r.action == "split"]
        assert len(hot) == 1
        assert hot[0].share_pm == 1000 and hot[0].n_children == 4
        assert all(r.action == "merge" for r in rows if r is not hot[0])
