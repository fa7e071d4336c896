"""File-sink tests: partitioned parquet layout + pruning, CSV/JSON
round-trips (SURVEY §2.2 "File-format scans / sinks")."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from kinesis_log_streamer_spark.plans import queries as Q
from kinesis_log_streamer_spark.sources import sinks
from kinesis_log_streamer_spark.sources.tables import load_table


class TestPartitionedParquet:
    def test_layout_and_roundtrip(self, spark, tmp_path):
        df = spark.range(100).select(
            F.col("id"),
            (F.col("id") % 3).alias("bucket"),
            (F.col("id") * 2.0).alias("v"),
        )
        out = str(tmp_path / "pq")
        sinks.write_partitioned_parquet(df, out, ["bucket"])
        dirs = sorted(d for d in os.listdir(out) if d.startswith("bucket="))
        assert dirs == ["bucket=0", "bucket=1", "bucket=2"]
        # one data file per partition value (repartition shaped the write)
        for d in dirs:
            files = [f for f in os.listdir(os.path.join(out, d)) if f.endswith(".parquet")]
            assert len(files) == 1
        back = spark.read.parquet(out)
        assert back.count() == 100

    def test_partition_pruning(self, spark, tmp_path):
        df = spark.range(90).select(
            F.col("id"), (F.col("id") % 3).alias("bucket")
        )
        out = str(tmp_path / "pq2")
        sinks.write_partitioned_parquet(df, out, ["bucket"])
        q = spark.read.parquet(out).filter(F.col("bucket") == 1)
        plan = q._jdf.queryExecution().executedPlan().toString()
        # pruned scan reads one of three partition dirs
        assert "PartitionFilters: [isnotnull(bucket" in plan
        assert q.count() == 30

    def test_events_by_date(self, spark, tmp_path):
        import datetime as dt

        rows = [
            (1, dt.datetime(2024, 1, 1, 5)),
            (2, dt.datetime(2024, 1, 1, 9)),
            (3, dt.datetime(2024, 1, 2, 5)),
        ]
        df = spark.createDataFrame(rows, "event_id long, ts timestamp")
        out = str(tmp_path / "ev")
        sinks.write_events_by_date(df, out)
        dirs = sorted(d for d in os.listdir(out) if d.startswith("event_date="))
        assert dirs == ["event_date=2024-01-01", "event_date=2024-01-02"]


class TestInterchangeFormats:
    def test_csv_roundtrip(self, spark, tmp_path):
        df = spark.createDataFrame(
            [(1, "a,b", 1.5), (2, 'q"x', None)], "id long, s string, v double"
        )
        out = str(tmp_path / "csv")
        sinks.write_csv(df, out)
        back = sinks.read_csv(spark, out, "id long, s string, v double")
        got = {(r.id, r.s, r.v) for r in back.collect()}
        assert got == {(1, "a,b", 1.5), (2, 'q"x', None)}

    def test_json_lines_roundtrip(self, spark, tmp_path):
        df = spark.createDataFrame(
            [(1, ["x", "y"], {"k": "v"})],
            "id long, arr array<string>, m map<string,string>",
        )
        out = str(tmp_path / "jsonl")
        sinks.write_json_lines(df, out)
        back = sinks.read_json_lines_typed(
            spark, out, "id long, arr array<string>, m map<string,string>"
        )
        r = back.collect()[0]
        assert r.id == 1 and r.arr == ["x", "y"] and r.m == {"k": "v"}

    def test_text_sink(self, spark, tmp_path):
        df = spark.createDataFrame([("l1",), ("l2",)], "value string")
        out = str(tmp_path / "txt")
        sinks.write_text(df, out)
        back = spark.read.text(out)
        assert sorted(r.value for r in back.collect()) == ["l1", "l2"]


class TestDirShardAppendAtomicity:
    def test_concurrent_put_records_never_tear_lines(self, tmp_path):
        """ADVICE r04 (medium): two writer tasks appending to the SAME
        shard file must not interleave mid-line.  put_records uses
        O_APPEND + one os.write per shard group; 8 threads x 100
        batches all routed to one shard must yield exactly 800 intact
        JSONL lines."""
        import json
        import threading

        from kinesis_log_streamer_spark.sources.kinesis_source import (
            DirKinesisClient,
        )

        ep = str(tmp_path / "shards")
        n_threads, n_batches = 8, 100

        def worker(tid: int) -> None:
            client = DirKinesisClient(ep, num_shards=1)
            for b in range(n_batches):
                client.put_records(
                    StreamName="t",
                    Records=[
                        {
                            "Data": json.dumps(
                                {"tid": tid, "batch": b, "pad": "x" * 200}
                            ).encode(),
                            "PartitionKey": f"k{tid}",
                        }
                    ],
                )

        threads = [
            threading.Thread(target=worker, args=(t,))
            for t in range(n_threads)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()

        lines = (
            (tmp_path / "shards" / "shard-000.jsonl")
            .read_text()
            .strip()
            .splitlines()
        )
        assert len(lines) == n_threads * n_batches
        seen = set()
        for line in lines:
            rec = json.loads(line)  # raises on any torn line
            inner = json.loads(rec["data"])
            seen.add((inner["tid"], inner["batch"]))
        assert len(seen) == n_threads * n_batches  # no dup, no loss

    def test_short_write_raises(self, tmp_path, monkeypatch):
        """A short append must surface, not lose the records past the
        written bytes; put_records does not loop on it, since a second
        write could land after another writer's group."""
        import pytest

        import kinesis_log_streamer_spark.sources.kinesis_source as ks

        client = ks.DirKinesisClient(str(tmp_path / "shards"), num_shards=1)
        records = [{"Data": f"r{i}".encode(), "PartitionKey": "k"} for i in range(5)]
        real_write = os.write
        calls = []

        def short_write(fd, data):
            calls.append(len(data))
            return real_write(fd, bytes(data)[: len(data) // 2])

        monkeypatch.setattr(ks.os, "write", short_write)
        with pytest.raises(OSError, match="short write"):
            client.put_records(StreamName="t", Records=records)
        monkeypatch.setattr(ks.os, "write", real_write)
        assert len(calls) == 1  # one write per shard group, no retry loop


class TestKinesisWriterTwoPhaseCommit:
    """KinesisDataSourceWriter retry idempotence (VERDICT r05 item 4):
    staging + driver-side publish means a retried/speculative task
    attempt can never double-append records to the shard files."""

    def _rows(self, n):
        from pyspark.sql import Row

        return [
            Row(data=f'{{"i":{i}}}', partitionKey=f"k{i % 4}")
            for i in range(n)
        ]

    def _writer(self, d):
        from kinesis_log_streamer_spark.sources.kinesis_source import (
            KinesisDataSourceWriter,
        )

        return KinesisDataSourceWriter(
            {"endpoint": f"dir:{d}", "numshards": "2"}
        )

    def _shard_lines(self, d):
        out = []
        for name in sorted(os.listdir(d)):
            if name.startswith("shard-") and name.endswith(".jsonl"):
                with open(os.path.join(d, name)) as fh:
                    out.extend(fh.read().strip().splitlines())
        return out

    def test_retried_task_does_not_duplicate(self, tmp_path):
        d = str(tmp_path / "shards")
        os.makedirs(d)
        w = self._writer(d)
        rows = self._rows(12)
        first = w.write(iter(rows))
        retry = w.write(iter(rows))  # speculative/retried attempt
        assert first.staging_dir != retry.staging_dir
        # nothing published before the driver commits
        assert self._shard_lines(d) == []
        # Spark forwards exactly ONE message per partition
        w.commit([first])
        lines = self._shard_lines(d)
        assert len(lines) == 12  # the retry's staging never published
        assert first.n_records == retry.n_records == 12
        # the losing attempt's staging dir is orphaned, not live data —
        # and invisible to shard readers
        import json as _json

        seen = sorted(_json.loads(x)["data"] for x in lines)
        assert seen == sorted(r.data for r in rows)

    def test_abort_publishes_nothing(self, tmp_path):
        d = str(tmp_path / "shards")
        os.makedirs(d)
        w = self._writer(d)
        msg = w.write(iter(self._rows(7)))
        w.abort([msg, None])
        assert self._shard_lines(d) == []
        assert not os.path.isdir(msg.staging_dir)

    def test_commit_sweeps_stale_orphans(self, tmp_path):
        d = str(tmp_path / "shards")
        os.makedirs(d)
        stale = os.path.join(d, ".staging-deadbeef")
        os.makedirs(stale)
        old = 1_000_000.0
        os.utime(stale, (old, old))
        w = self._writer(d)
        msg = w.write(iter(self._rows(3)))
        w.commit([msg])
        assert not os.path.isdir(stale)
        assert len(self._shard_lines(d)) == 3

    def test_publish_line_chunking(self):
        from kinesis_log_streamer_spark.sources.kinesis_source import (
            KinesisDataSourceWriter as W,
        )

        buf = b"aaaa\nbb\ncccccc\ndd\n"
        chunks = list(W._line_chunks(buf, 8))
        assert b"".join(chunks) == buf
        # every chunk ends on a line boundary and respects the cap
        # (except a single line longer than the cap, emitted whole)
        for c in chunks:
            assert c.endswith(b"\n")
            assert len(c) <= 8 or c.count(b"\n") == 1
        # oversized single line comes out whole, not torn
        big = b"x" * 40 + b"\n" + b"y\n"
        chunks = list(W._line_chunks(big, 8))
        assert chunks[0] == b"x" * 40 + b"\n"
        assert b"".join(chunks) == big

    def test_publish_survives_short_writes(self, tmp_path, monkeypatch):
        """ADVICE r06 (medium): a short os.write must not drop bytes
        or tear a line — publish resumes from the unwritten tail and
        the shard file comes out byte-identical."""
        import kinesis_log_streamer_spark.sources.kinesis_source as ks

        d = str(tmp_path / "shards")
        os.makedirs(d)
        w = self._writer(d)
        msg = w.write(iter(self._rows(50)))
        real_write = os.write

        def short_write(fd, data):
            return real_write(fd, bytes(data)[:7])  # short every time

        monkeypatch.setattr(ks.os, "write", short_write)
        w.commit([msg])
        monkeypatch.setattr(ks.os, "write", real_write)
        lines = self._shard_lines(d)
        assert len(lines) == 50
        import json as _json

        assert sorted(_json.loads(x)["data"] for x in lines) == sorted(
            r.data for r in self._rows(50)
        )

    def test_publish_raises_on_zero_progress(self, tmp_path, monkeypatch):
        import pytest

        import kinesis_log_streamer_spark.sources.kinesis_source as ks

        d = str(tmp_path / "shards")
        os.makedirs(d)
        w = self._writer(d)
        msg = w.write(iter(self._rows(3)))
        monkeypatch.setattr(ks.os, "write", lambda fd, data: 0)
        with pytest.raises(OSError, match="no progress"):
            w.commit([msg])

    def test_concurrent_writers_interleave(self, tmp_path):
        """VERDICT r06 item 10: two jobs writing the same dir with
        interleaved staging and commit lose nothing and duplicate
        nothing — and the first commit's orphan sweep must not touch
        the other job's young in-flight staging."""
        d = str(tmp_path / "shards")
        os.makedirs(d)
        w1, w2 = self._writer(d), self._writer(d)
        rows1 = self._rows(20)
        rows2 = [
            r.__class__(data=r.data.replace("{", '{"j":1,', 1),
                        partitionKey=r.partitionKey)
            for r in self._rows(15)
        ]
        m1 = w1.write(iter(rows1))
        m2 = w2.write(iter(rows2))  # staged before w1 commits
        w1.commit([m1])
        # w2's staging survived w1's orphan sweep (age-gated)
        assert os.path.isdir(m2.staging_dir)
        w2.commit([m2])
        lines = self._shard_lines(d)
        assert len(lines) == 35
        import json as _json

        seen = sorted(_json.loads(x)["data"] for x in lines)
        assert seen == sorted(r.data for r in rows1 + rows2)
        assert not [x for x in os.listdir(d) if x.startswith(".staging-")]

    def test_dataframe_write_roundtrip(self, spark, tmp_path):
        from kinesis_log_streamer_spark.sources.kinesis_source import (
            KinesisDataSource,
        )

        spark.dataSource.register(KinesisDataSource)
        d = str(tmp_path / "shards")
        df = spark.range(20).select(
            F.col("id").cast("string").alias("data"),
            (F.col("id") % 3).cast("string").alias("partitionKey"),
        )
        (
            df.coalesce(2)
            .write.format("kinesis_py")
            .option("endpoint", f"dir:{d}")
            .option("numshards", "2")
            .mode("append")
            .save()
        )
        lines = self._shard_lines(d)
        assert len(lines) == 20
        # no staging residue after a successful commit
        assert not [x for x in os.listdir(d) if x.startswith(".staging-")]


class TestF24AvroRoundtrip:
    def test_roundtrip_rollup_matches_direct(self, spark, sf_dir):
        got = {
            r.o_orderpriority: (r.n_orders, r.n_keys, r.total)
            for r in Q.f24_avro_roundtrip(spark, sf_dir).collect()
        }
        want = {
            r.p: (r.n, r.k, r.t)
            for r in load_table(spark, sf_dir, "orders")
            .groupBy(F.col("o_orderpriority").alias("p"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.countDistinct("o_orderkey").alias("k"),
                F.round(F.sum("o_totalprice"), 2).alias("t"),
            )
            .collect()
        }
        assert got == want

    def test_wire_column_is_binary(self, spark):
        # The round trip must put real serialized bytes on the wire:
        # the JSON codec's wire column is BINARY.
        probe = spark.range(1).select(
            F.to_json(F.struct("id")).cast("binary").alias("b")
        )
        assert dict(probe.dtypes)["b"] == "binary"
