"""Composite-operator tests: as-of join (and w09's point-in-time
matrix over it), sessionization, top-k."""

from __future__ import annotations

import datetime as dt

import pandas as pd
from pyspark.sql import functions as F

from kinesis_log_streamer_spark.operators.asof import asof_join, asof_join_ranked
from kinesis_log_streamer_spark.operators.sessionize import sessionize
from kinesis_log_streamer_spark.operators.topk import topk_per_group
from kinesis_log_streamer_spark.plans import queries as Q

from conftest import SF_SMOKE


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


class TestAsofJoin:
    def _frames(self, spark):
        left = spark.createDataFrame(
            [
                (1, 10, _ts("2024-01-01T10:00:00")),
                (2, 10, _ts("2024-01-01T12:00:00")),
                (3, 20, _ts("2024-01-01T09:00:00")),
            ],
            "event_id long, key long, ts timestamp",
        )
        right = spark.createDataFrame(
            [
                (10, _ts("2024-01-01T09:30:00"), 100),
                (10, _ts("2024-01-01T11:00:00"), 200),
                (20, _ts("2024-01-01T09:00:00"), 300),  # exactly simultaneous
            ],
            "key long, rts timestamp, val long",
        )
        return left, right

    def test_picks_latest_at_or_before(self, spark):
        left, right = self._frames(spark)
        out = {
            r.event_id: r.val
            for r in asof_join(left, right, "key", "ts", "rts").collect()
        }
        assert out == {1: 100, 2: 200, 3: 300}

    def test_matches_ranked_variant(self, spark):
        left, right = self._frames(spark)
        a = asof_join(left, right, "key", "ts", "rts")
        b = asof_join_ranked(left, right, "key", "ts", "rts", "event_id")
        assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))

    def test_no_prior_row_yields_null(self, spark):
        left = spark.createDataFrame(
            [(1, 10, _ts("2024-01-01T08:00:00"))],
            "event_id long, key long, ts timestamp",
        )
        _, right = self._frames(spark)
        row = asof_join(left, right, "key", "ts", "rts").first()
        assert row.val is None

    def test_whole_row_semantics_with_partial_nulls(self, spark):
        # A right row with nulls in SOME value columns must be taken as a
        # whole — never stitched per-column with values from an older row.
        left = spark.createDataFrame(
            [(1, 10, _ts("2024-01-01T12:00:00"))],
            "event_id long, key long, ts timestamp",
        )
        right = spark.createDataFrame(
            [
                (10, _ts("2024-01-01T09:00:00"), 100, "old"),
                (10, _ts("2024-01-01T11:00:00"), None, "new"),
            ],
            "key long, rts timestamp, a long, b string",
        )
        row = asof_join(left, right, "key", "ts", "rts").first()
        assert (row.a, row.b) == (None, "new")  # not (100, "new")

    def test_right_tie_is_deterministic(self, spark):
        # Two right rows at an identical (key, ts): the struct tiebreaker
        # always resolves to the max row, independent of partitioning.
        left = spark.createDataFrame(
            [(1, 10, _ts("2024-01-01T12:00:00"))],
            "event_id long, key long, ts timestamp",
        )
        right = spark.createDataFrame(
            [
                (10, _ts("2024-01-01T11:00:00"), 7, "x"),
                (10, _ts("2024-01-01T11:00:00"), 9, "y"),
            ],
            "key long, rts timestamp, a long, b string",
        )
        for _ in range(3):
            row = asof_join(
                left, right.repartition(4), "key", "ts", "rts"
            ).first()
            assert (row.a, row.b) == (9, "y")


class TestSessionize:
    def test_gap_splits_sessions(self, spark):
        rows = [
            (1, 1, _ts("2024-01-01T10:00:00")),
            (2, 1, _ts("2024-01-01T10:10:00")),
            (3, 1, _ts("2024-01-01T11:30:00")),  # > 30 min gap → new session
            (4, 2, _ts("2024-01-01T10:00:00")),
        ]
        df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
        out = sessionize(df, gap_seconds=1800, tiebreak_cols=("event_id",))
        sessions = {r.event_id: r.session_id for r in out.collect()}
        assert sessions == {1: 1, 2: 1, 3: 2, 4: 1}


class TestTopK:
    def test_topk_per_group(self, spark):
        df = spark.createDataFrame(
            [("a", 1), ("a", 3), ("a", 2), ("b", 9)], "g string, v long"
        )
        out = topk_per_group(df, ["g"], [F.desc("v"), F.asc("g")], k=2)
        got = sorted((r.g, r.v, r.rnk) for r in out.collect())
        assert got == [("a", 3, 1), ("a", 2, 2), ("b", 9, 1)] or got == sorted(
            [("a", 3, 1), ("a", 2, 2), ("b", 9, 1)]
        )


class TestBinRangeJoin:
    def _bands(self, spark):
        return spark.createDataFrame(
            [(0, 0.0, 10.0), (1, 10.0, 25.0), (2, 25.0, 100.0)],
            "band_id long, lo double, hi double",
        )

    def test_matches_naive_non_equi_join(self, spark):
        from kinesis_log_streamer_spark.operators.rangejoin import bin_range_join

        pts = spark.range(200).select((F.col("id") * 0.7).alias("p"))
        bands = self._bands(spark)
        binned = bin_range_join(pts, bands, "p", "lo", "hi", 10.0)
        naive = pts.join(
            bands, (F.col("p") >= F.col("lo")) & (F.col("p") < F.col("hi"))
        )
        got = sorted((r.p, r.band_id) for r in binned.collect())
        want = sorted((r.p, r.band_id) for r in naive.collect())
        assert got == want

    def test_boundary_points_and_no_nested_loop(self, spark):
        from kinesis_log_streamer_spark.operators.rangejoin import bin_range_join

        # points exactly on lo (kept) and hi (excluded), bin-aligned hi
        pts = spark.createDataFrame([(0.0,), (10.0,), (25.0,), (100.0,)], "p double")
        out = bin_range_join(pts, self._bands(spark), "p", "lo", "hi", 10.0)
        got = sorted((r.p, r.band_id) for r in out.collect())
        assert got == [(0.0, 0), (10.0, 1), (25.0, 2)]
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "NestedLoop" not in plan


class TestFuzzyJoin:
    def test_blocked_pairs_match_naive_within_blocks(self, spark):
        from kinesis_log_streamer_spark.operators.fuzzy import (
            blocked_levenshtein_join,
        )

        names = [
            (1, "widget-00a"),
            (2, "widget-00b"),   # lev 1 from widget-00a
            (3, "widget-99z"),   # same block, lev 2 -> excluded
            (4, "gadget-00a"),   # different block prefix
            (5, "widget-00ax"),  # different length -> different block
        ]
        df = spark.createDataFrame(names, "pid long, pname string")
        out = blocked_levenshtein_join(
            df, name_col="pname", id_col="pid",
            block_prefix=7, max_distance=1,
        )
        got = sorted((r.id_a, r.id_b, r.lev) for r in out.collect())
        assert got == [(1, 2, 1)]

    def test_no_cartesian_in_plan(self, spark):
        from kinesis_log_streamer_spark.operators.fuzzy import (
            blocked_levenshtein_join,
        )

        df = spark.range(100).select(
            F.col("id").alias("pid"),
            F.concat(F.lit("name-"), F.col("id")).alias("pname"),
        )
        out = blocked_levenshtein_join(df, "pname", "pid")
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Cartesian" not in plan and "NestedLoop" not in plan


class TestAsofTolerance:
    def _frames(self, spark):
        from tests.test_operators import _ts
        left = spark.createDataFrame(
            [
                (1, 10, _ts("2024-01-01T10:00:00")),  # 30 min after right
                (2, 10, _ts("2024-01-01T13:00:00")),  # 2 h after latest right
                (3, 20, _ts("2024-01-01T09:00:00")),  # simultaneous
            ],
            "event_id long, key long, ts timestamp",
        )
        right = spark.createDataFrame(
            [
                (10, _ts("2024-01-01T09:30:00"), 100),
                (10, _ts("2024-01-01T11:00:00"), 200),
                (20, _ts("2024-01-01T09:00:00"), 300),
            ],
            "key long, rts timestamp, val long",
        )
        return left, right

    def test_stale_match_nulled_not_replaced(self, spark):
        left, right = self._frames(spark)
        out = {
            r.event_id: r.val
            for r in asof_join(
                left, right, "key", "ts", "rts", tolerance_seconds=3600
            ).collect()
        }
        # event 2: most recent right row (11:00, val 200) is 2 h stale ->
        # NULL; the 9:30 row must NOT be substituted.
        assert out == {1: 100, 2: None, 3: 300}

    def test_zero_tolerance_keeps_simultaneous(self, spark):
        left, right = self._frames(spark)
        out = {
            r.event_id: r.val
            for r in asof_join(
                left, right, "key", "ts", "rts", tolerance_seconds=0
            ).collect()
        }
        assert out == {1: None, 2: None, 3: 300}

    def test_none_tolerance_unchanged(self, spark):
        left, right = self._frames(spark)
        a = sorted(map(tuple, asof_join(left, right, "key", "ts", "rts").collect()))
        b = sorted(map(tuple, asof_join(
            left, right, "key", "ts", "rts", tolerance_seconds=None
        ).collect()))
        assert a == b


class TestAsofNearest:
    """direction="nearest": closest in time, ties to backward,
    tolerance bounds the absolute gap (pandas merge_asof)."""

    def _frames(self, spark):
        left = spark.createDataFrame(
            [
                (1, 10, _ts("2024-01-01T10:00:00")),  # back 30m, fwd 60m
                (2, 10, _ts("2024-01-01T10:45:00")),  # back 75m, fwd 15m
                (3, 10, _ts("2024-01-01T10:15:00")),  # back 45m, fwd 45m: tie
                (4, 20, _ts("2024-01-01T09:00:00")),  # simultaneous right
                (5, 30, _ts("2024-01-01T09:00:00")),  # no right at all
            ],
            "event_id long, key long, ts timestamp",
        )
        right = spark.createDataFrame(
            [
                (10, _ts("2024-01-01T09:30:00"), 100),
                (10, _ts("2024-01-01T11:00:00"), 200),
                (20, _ts("2024-01-01T09:00:00"), 300),
            ],
            "key long, rts timestamp, val long",
        )
        return left, right

    def _vals(self, df):
        return {r.event_id: r.val for r in df.collect()}

    def test_picks_closer_side(self, spark):
        left, right = self._frames(spark)
        out = self._vals(
            asof_join(left, right, "key", "ts", "rts", direction="nearest")
        )
        assert out[1] == 100  # backward closer
        assert out[2] == 200  # forward closer

    def test_tie_goes_backward(self, spark):
        left, right = self._frames(spark)
        out = self._vals(
            asof_join(left, right, "key", "ts", "rts", direction="nearest")
        )
        assert out[3] == 100  # 45m both ways -> backward

    def test_simultaneous_and_missing(self, spark):
        left, right = self._frames(spark)
        out = self._vals(
            asof_join(left, right, "key", "ts", "rts", direction="nearest")
        )
        assert out[4] == 300  # distance 0
        assert out[5] is None  # key 30 has no right rows

    def test_tolerance_bounds_abs_gap(self, spark):
        left, right = self._frames(spark)
        out = self._vals(
            asof_join(
                left, right, "key", "ts", "rts",
                direction="nearest", tolerance_seconds=20 * 60,
            )
        )
        assert out[1] is None   # nearest is 30m away > 20m
        assert out[2] == 200    # 15m within tolerance
        assert out[4] == 300    # 0m


def _pq(name: str) -> pd.DataFrame:
    return pd.read_parquet(f"{SF_SMOKE}/{name}.parquet")


class TestPointInTimeMatrix:
    def test_no_future_leakage_and_staleness_rule(self, spark):
        rows = Q.w09_point_in_time_matrix(spark, SF_SMOKE).collect()
        assert rows, "matrix must not be empty"
        for r in rows:
            # backward as-of can never match a future feature
            assert r.leak_viol == 0
            # the staleness rule: f1 present iff a match exists
            # within 90 days
            if r.f1 is not None:
                assert r.f1_age_days is not None
                assert 0 <= r.f1_age_days <= 90
            if r.f1_age_days is not None and r.f1_age_days > 90:
                assert r.f1 is None

    def test_f1_matches_pandas_asof(self, spark):
        ev = _pq("events")
        od = _pq("orders")
        ev = ev[ev["event_id"] % 3 == 0]
        f1 = (
            od.groupby(["o_custkey", "o_orderdate"])["o_totalprice"]
            .max()
            .round(2)
            .reset_index()
        )
        got = {
            r.event_id: (r.f1, r.f1_age_days)
            for r in Q.w09_point_in_time_matrix(spark, SF_SMOKE).collect()
        }
        for r in ev.itertuples():
            cand = f1[
                (f1["o_custkey"] == r.user_id)
                & (f1["o_orderdate"] <= r.ts)
            ]
            eid = int(r.event_id)
            if cand.empty:
                assert got[eid] == (None, None)
                continue
            best = cand.loc[cand["o_orderdate"].idxmax()]
            age = (
                r.ts.normalize() - best["o_orderdate"].normalize()
            ).days
            exp_f1 = float(best["o_totalprice"]) if age <= 90 else None
            assert got[eid][1] == age
            assert (got[eid][0] is None) == (exp_f1 is None)
            if exp_f1 is not None:
                assert abs(got[eid][0] - exp_f1) < 1e-9
