"""Skew-handling tests: salted join/count correctness + spread,
bucketed-table joins that eliminate the shuffle entirely, and the p11
join-size preflight."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from kinesis_log_streamer_spark.operators.skew import salted_count, salted_join
from kinesis_log_streamer_spark.plans import queries as Q

from conftest import SF_SMOKE


@pytest.fixture()
def skewed_df(spark):
    # 10_000 rows of key "hot", 10 rows each of 5 cold keys
    hot = spark.range(10_000).select(F.lit("hot").alias("k"), F.col("id").alias("v"))
    cold = spark.range(50).select(
        F.concat(F.lit("cold"), (F.col("id") % 5).cast("string")).alias("k"),
        F.col("id").alias("v"),
    )
    return hot.unionByName(cold)


class TestSaltedJoin:
    def test_matches_plain_join(self, spark, skewed_df):
        dim = spark.createDataFrame(
            [("hot", "H"), ("cold0", "C0"), ("cold3", "C3"), ("absent", "A")],
            "k string, label string",
        )
        plain = (
            skewed_df.join(dim, "k")
            .groupBy("k", "label")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        salted = (
            salted_join(skewed_df, dim, "k", n_salts=8)
            .groupBy("k", "label")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        assert sorted(map(tuple, plain.collect())) == sorted(
            map(tuple, salted.collect())
        )

    def test_outer_join_rejected(self, spark, skewed_df):
        # right/full outer would emit each unmatched exploded row once
        # per salt — only inner/left are equivalence-preserving.
        import pytest

        dim = spark.createDataFrame([("hot", "H")], "k string, label string")
        for how in ("right", "full", "outer"):
            with pytest.raises(ValueError, match="inner"):
                salted_join(skewed_df, dim, "k", n_salts=4, how=how)

    def test_salts_spread_hot_key(self, spark, skewed_df):
        from kinesis_log_streamer_spark.operators.skew import salted_join  # noqa

        salted = skewed_df.withColumn(
            "__salt",
            F.pmod(
                F.xxhash64(F.monotonically_increasing_id()), F.lit(8)
            ).cast("int"),
        )
        n_buckets = (
            salted.filter(F.col("k") == "hot").select("__salt").distinct().count()
        )
        assert n_buckets == 8  # hot key spread over all salt buckets


class TestSaltedCount:
    def test_matches_plain_count(self, spark, skewed_df):
        plain = {
            (r.k, r.n)
            for r in skewed_df.groupBy("k").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        salted = {(r.k, r.n) for r in salted_count(skewed_df, "k").collect()}
        assert plain == salted


class TestBucketedJoin:
    def test_bucketed_join_has_no_exchange(self, spark, tmp_path):
        """Bucketed tables co-locate join keys at WRITE time: a join of
        two tables bucketed on the same key by the same bucket count
        runs with zero Exchange operators — the 100 TB repeated-join
        pattern (bucket once, join often)."""
        a = spark.range(1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("va")
        )
        b = spark.range(1000).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("vb")
        )
        a.write.mode("overwrite").bucketBy(8, "k").sortBy("k").saveAsTable("bkt_a")
        b.write.mode("overwrite").bucketBy(8, "k").sortBy("k").saveAsTable("bkt_b")
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            # force a sort-merge join: with broadcast eligible the planner
            # rightly skips bucketed scans (nothing to co-locate)
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            joined = spark.table("bkt_a").join(spark.table("bkt_b"), "k")
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, plan
            assert joined.count() == 1000
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
            spark.sql("DROP TABLE IF EXISTS bkt_a")
            spark.sql("DROP TABLE IF EXISTS bkt_b")


def _pq(name: str) -> pd.DataFrame:
    return pd.read_parquet(f"{SF_SMOKE}/{name}.parquet")


class TestJoinSizePreflight:
    def test_formula_matches_and_verifies(self, spark):
        rows = Q.p11_join_size_preflight(spark, SF_SMOKE).collect()
        assert len(rows) == 3
        # the sum-product formula is EXACT: every pair must verify
        for r in rows:
            assert r.match == 1
            assert r.est_rows == r.actual_rows
            assert 0 < r.top_key_share_pm <= 1_000_000
        # independent recompute of one pair in pandas
        ev = _pq("events")
        cnt = ev.groupby("user_id").size()
        est = int((cnt * cnt).sum())
        got = {r.pair: r for r in rows}["events*events"]
        assert got.est_rows == est
        assert got.n_common_keys == len(cnt)
