"""Z-order layout operator: Morton interleave + clustered write, and the
p10 small-file compaction planner."""

from __future__ import annotations

import os
from collections import defaultdict

import pandas as pd
from pyspark.sql import functions as F

from kinesis_log_streamer_spark.operators.layout import write_zordered, zvalue
from kinesis_log_streamer_spark.plans import queries as Q

from conftest import SF_SMOKE


class TestZValue:
    def test_known_interleave(self, spark):
        # x=0b11, y=0b01 → z bits: x0@0, y0@1, x1@2, y1@3 → 0b0111 = 7
        df = spark.createDataFrame([(3, 1)], "x long, y long")
        z = df.select(
            zvalue([F.col("x"), F.col("y")], bits=2).alias("z")
        ).first()[0]
        assert z == 0b0111

    def test_zero_is_zero(self, spark):
        df = spark.createDataFrame([(0, 0, 0)], "x long, y long, w long")
        z = df.select(
            zvalue([F.col("x"), F.col("y"), F.col("w")], bits=4).alias("z")
        ).first()[0]
        assert z == 0

    def test_locality_tiles(self, spark):
        """Fixed z-ranges cover bounded rectangles: splitting the 6+6
        bit z-space into 64 equal ranges yields ≤8 span per dim."""
        rows = [(x, y) for x in range(64) for y in range(64)]
        df = spark.createDataFrame(rows, "x long, y long")
        zed = df.withColumn(
            "z", zvalue([F.col("x"), F.col("y")], bits=6)
        )
        ext = (
            zed.groupBy((F.col("z") / 64).cast("long").alias("tile"))
            .agg(
                (F.max("x") - F.min("x")).alias("sx"),
                (F.max("y") - F.min("y")).alias("sy"),
            )
            .agg(F.max("sx").alias("mx"), F.max("sy").alias("my"))
            .first()
        )
        assert ext["mx"] <= 7 and ext["my"] <= 7


class TestWriteZordered:
    def test_files_have_tight_extents(self, spark, tmp_path):
        """After a z-ordered write, every parquet file's min/max
        extent is bounded in BOTH dimensions — the pruning property a
        single-column sort only gives its leading column."""
        rows = [(x, y) for x in range(64) for y in range(64)]
        df = spark.createDataFrame(rows, "x long, y long")
        out = str(tmp_path / "zo")
        write_zordered(
            df, out, [F.col("x"), F.col("y")], bits=6, n_files=8
        )
        back = spark.read.parquet(out).withColumn(
            "file", F.input_file_name()
        )
        ext = back.groupBy("file").agg(
            (F.max("x") - F.min("x")).alias("sx"),
            (F.max("y") - F.min("y")).alias("sy"),
            F.count(F.lit(1)).alias("n"),
        )
        rows = ext.collect()
        assert len(rows) >= 8
        # Sampled range bounds are not aligned to z-blocks, so a file
        # that crosses a high-bit boundary can span wide in one
        # dimension — but MOST files cover a tight rectangle, which a
        # single-column sort gives only its leading column (a y-sorted
        # layout has x-span 63 in EVERY file).
        tight = [r for r in rows if r["sx"] <= 31 and r["sy"] <= 31]
        assert len(tight) >= len(rows) // 2, rows
        n_files_on_disk = len(
            [f for f in os.listdir(out) if f.endswith(".parquet")]
        )
        assert n_files_on_disk >= 8

    def test_roundtrip_preserves_rows(self, spark, tmp_path):
        rows = [(x, y) for x in range(32) for y in range(32)]
        df = spark.createDataFrame(rows, "x long, y long")
        out = str(tmp_path / "zo2")
        write_zordered(df, out, [F.col("x"), F.col("y")], bits=5, n_files=4)
        back = spark.read.parquet(out)
        assert back.count() == 1024
        assert set(back.columns) == {"x", "y"}


class TestPartitioningInvariance:
    """At 1000 executors the physical partitioning of the input is an
    accident of the scan; every deterministic query must return the
    SAME rows no matter how the source was split.  Pin that property
    on the ops whose implementations could most plausibly leak
    partitioning (hash-rank sampling, weighted sampling, prefix-filter
    candidate joins, sketch-gate estimates)."""

    SF = "/root/testdata/sf0.001"
    NAMES = [
        "t09_hash_sample",
        "w01_weighted_sample",
        "d20_prefix_filter_jaccard",
        "q132_theta_sketch_setops",
        "t27_bm25_topk",
    ]

    def _rows(self, df):
        return sorted(tuple(r) for r in df.collect())

    def test_results_survive_repartitioning(self, spark, monkeypatch):
        from kinesis_log_streamer_spark.plans import queries as Q
        from kinesis_log_streamer_spark.sources import tables as T

        baseline = {
            n: self._rows(Q.REGISTRY[n](spark, self.SF)) for n in self.NAMES
        }

        real_load = T.load_table

        def skewed_load(spark_, sf_dir, name, *a, **kw):
            # Same rows, radically different physical split: 7-way
            # round-robin repartition of every source scan.
            return real_load(spark_, sf_dir, name, *a, **kw).repartition(7)

        # queries.py binds load_table directly (`from ... import
        # load_table`), so patch the binding the queries actually call.
        monkeypatch.setattr(Q, "load_table", skewed_load)
        for n in self.NAMES:
            again = self._rows(Q.REGISTRY[n](spark, self.SF))
            assert again == baseline[n], f"{n} depends on partitioning"


def _pq(name: str) -> pd.DataFrame:
    return pd.read_parquet(f"{SF_SMOKE}/{name}.parquet")


class TestCompactionPlan:
    TARGET = 32 * 1024 * 1024

    def _expected(self) -> list[tuple]:
        ev = _pq("events")
        inv = [
            (
                str(r.event_type),
                int(r.event_id),
                (int(r.event_id) * 7919) % 262144 + 1024,
            )
            for r in ev.itertuples()
        ]
        groups = defaultdict(lambda: [0, 0, None, None])
        by_dir = defaultdict(list)
        for d, fid, sz in inv:
            by_dir[d].append((sz, fid))
        for d, files in by_dir.items():
            files.sort(key=lambda t: (-t[0], t[1]))
            cum = 0
            for sz, fid in files:
                g = cum // self.TARGET
                cum += sz
                a = groups[(d, g)]
                a[0] += 1
                a[1] += sz
                a[2] = sz if a[2] is None else max(a[2], sz)
                a[3] = sz if a[3] is None else min(a[3], sz)
        return [
            (d, g, a[0], a[1], a[2], a[3])
            for (d, g), a in sorted(groups.items())
        ]

    def test_matches_python_recompute(self, spark):
        got = [
            (
                r.dir,
                r.group_no,
                r.n_files,
                r.group_bytes,
                r.largest,
                r.smallest,
            )
            for r in Q.p10_compaction_plan(spark, SF_SMOKE).collect()
        ]
        assert got == self._expected()

    def test_groups_fill_near_target(self, spark):
        # fill bounds of the running-fill rule (max file size is
        # 262143 + 1024 = 263167): every group holds < target + max
        # bytes, and every NON-last group holds > target - max bytes
        # — i.e. each planned output object lands within one file of
        # the 32 MiB target.
        max_sz = 263167
        rows = Q.p10_compaction_plan(spark, SF_SMOKE).collect()
        last_group = {}
        for r in rows:
            last_group[r.dir] = max(last_group.get(r.dir, -1), r.group_no)
        for r in rows:
            assert r.group_bytes < self.TARGET + max_sz
            if r.group_no != last_group[r.dir]:
                assert r.group_bytes > self.TARGET - max_sz
