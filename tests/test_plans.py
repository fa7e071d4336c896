"""Physical-plan regression pins for the most expensive headline
queries (VERDICT r11 #7): a broadcast flipping to sort-merge, a new
Exchange appearing on a hot path, or a join degenerating to a
cartesian product should fail the SUITE, not surface as a bench
drift three rounds later.

st10/st05 are excluded (streaming micro-batch plans live in
PLANS.md via explainInternal); d02's registry entry returns an
eager 1-row gate, so its production leg is audited through the
operator API it wraps (`dedup.minhash_dedup_pairs`).

Assertions target the AQE-initial executed plan at sf0.001 — join
strategies here come from explicit `F.broadcast` hints and
statistics available at plan time, so the initial plan is the
committed strategy, not a runtime accident.
"""

from __future__ import annotations

import datetime

import pandas as pd
from pyspark.sql import functions as F

from kinesis_log_streamer_spark.operators import dedup as D
from kinesis_log_streamer_spark.operators.asof import asof_join
from kinesis_log_streamer_spark.plans import queries as Q
from kinesis_log_streamer_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _no_blowups(plan: str) -> None:
    assert "CartesianProduct" not in plan
    # BroadcastNestedLoopJoin is only legitimate for the 1-row gate
    # fusions; none of the paths audited here may carry one.
    assert "BroadcastNestedLoopJoin" not in plan


class TestDedupClustersPlan:
    def test_no_cartesian_and_bounded_shuffles(self, spark):
        """d05: star edges per LSH bucket + connected components.
        The returned rollup must stay an equi-join pipeline — no
        cartesian, no nested-loop — and its shuffle count is pinned
        so a new Exchange on the path fails here."""
        df = Q.REGISTRY["d05_dedup_clusters"](spark, SF)
        plan = _plan(df)
        _no_blowups(plan)
        assert plan.count("Exchange") <= 4


class TestContaminationPlan:
    def test_gram_side_broadcasts(self, spark):
        """t13: the contamination gram table is the SMALL side and
        must broadcast — a flip to SortMergeJoin re-shuffles the
        exploded document grams (the big side) and is the regression
        this test exists to catch."""
        df = Q.REGISTRY["t13_contamination"](spark, SF)
        plan = _plan(df)
        _no_blowups(plan)
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan


class TestMinhashBandedJoinPlan:
    def test_candidates_via_hash_equi_join(self, spark):
        """d02's production leg: banded LSH candidates must pair via
        a HASH equi-join on (band, signature) — never a cartesian or
        nested-loop — which is the whole O(docs x bands) scale
        argument."""
        docs = load_table(spark, SF, "documents").select("doc_id", "text")
        pairs = D.minhash_dedup_pairs(docs, threshold=0.3)
        plan = _plan(pairs)
        _no_blowups(plan)
        assert (
            "BroadcastHashJoin" in plan or "ShuffledHashJoin" in plan
            or "SortMergeJoin" in plan
        )
        # the join keys must include the band/bucket column, i.e. the
        # join is the banded candidate join, not a degenerate rewrite
        assert "band" in plan


class TestAsofJoinPlan:
    def test_single_shuffle_per_asof(self, spark):
        """w09's building block: the union+last(ignorenulls) as-of
        carries ONE shuffle (the per-key window) — a second Exchange
        means the union trick regressed to a join+re-shuffle."""
        ev = load_table(spark, SF, "events").select(
            "event_id", "user_id", F.col("ts")
        )
        feat = (
            load_table(spark, SF, "orders")
            .groupBy(
                F.col("o_custkey").alias("user_id"),
                F.col("o_orderdate").alias("fts"),
            )
            .agg(F.round(F.max("o_totalprice"), 2).alias("f1_raw"))
        )
        out = asof_join(
            ev, feat, key="user_id", left_ts="ts", right_ts="fts"
        )
        plan = _plan(out)
        _no_blowups(plan)
        assert "SortMergeJoin" not in plan and "Join" not in plan
        # one hash-partitioning exchange for the window; the feature
        # pre-aggregate reuses the same partitioning (ENSURE_REQUIREMENTS
        # may add its agg exchange upstream — allow at most 2 total)
        assert plan.count("Exchange") <= 2

    def test_w09_full_matrix_stays_join_free(self, spark):
        """The assembled w09 plan: two chained as-ofs plus the final
        sort — still no join operator anywhere (both features attach
        via the union trick) and a pinned shuffle budget."""
        df = Q.REGISTRY["w09_point_in_time_matrix"](spark, SF)
        plan = _plan(df)
        _no_blowups(plan)
        assert "SortMergeJoin" not in plan
        assert plan.count("Exchange") <= 7


class TestJoinPreflightPlan:
    def test_histograms_never_shuffle_facts(self, spark):
        """p11: the estimate joins per-key COUNT HISTOGRAMS.  Every
        hash-aggregate must sit below its exchange (partial map-side
        agg), so what shuffles is the key histogram, never fact rows;
        the histogram-vs-histogram joins stay hash joins.  The 1-row
        gate fusions are LocalTableScan-backed broadcasts, which is
        why BroadcastNestedLoopJoin is tolerated HERE only."""
        df = Q.REGISTRY["p11_join_size_preflight"](spark, SF)
        plan = _plan(df)
        assert "CartesianProduct" not in plan
        assert "SortMergeJoin" not in plan
        assert "BroadcastHashJoin" in plan
        # partial aggregation: every shuffle of a histogram is fed by
        # a map-side HashAggregate, visible as at least as many
        # partial_count aggregates as final ones
        assert plan.count("partial_count") >= 3


class TestExplodeAggPlan:
    def test_t07_partial_agg_under_single_shuffle(self, spark):
        """t07: exploded bigrams must partial-aggregate map-side and
        shuffle ONCE — a second Exchange means the explode output
        (the biggest intermediate in the text family) started
        travelling un-combined."""
        df = Q.REGISTRY["t07_bigram_topk"](spark, SF)
        plan = _plan(df)
        _no_blowups(plan)
        assert "Generate" in plan  # the explode survives as a generator
        assert plan.count("Exchange") <= 1
        assert "partial" in plan  # map-side combine below the shuffle


class TestKmeansPlan:
    def test_s09_assignment_is_scan_local(self, spark):
        """s09: a Lloyd round is ONE aggregation — row-local
        assignment against the centroid literal, then the (cell, pos)
        re-center agg: exactly one Exchange, never a join of points
        against centroids, and no RDD scan or Python node (a
        ``createDataFrame`` centroid table would start a Python worker
        every round)."""
        from kinesis_log_streamer_spark.operators.clustering import (
            lloyd_round,
        )
        from kinesis_log_streamer_spark.operators.similarity import (
            _normalized,
        )

        cn = _normalized(
            load_table(spark, SF, "embeddings"), "vec_id", "embedding"
        )
        cents = [
            list(r.nvec)
            for r in cn.orderBy("id").limit(8).select("nvec").collect()
        ]
        plan = _plan(lloyd_round(cn, cents))
        _no_blowups(plan)
        assert plan.count("Exchange") == 1
        assert "Join" not in plan
        for marker in ("ExistingRDD", "BatchEvalPython", "ArrowEvalPython"):
            assert marker not in plan


class TestCosineTopkPlan:
    def test_s01_broadcast_queries_and_topk_pushdown(self, spark):
        """s01 (VERDICT r12 #3 — its bench samples drifted on a noisy
        host; the committed plan shape is pinned so a real regression
        is distinguishable from noise): the 5-row query side must
        BROADCAST (the one legitimate BroadcastNestedLoopJoin on an
        audited path — the join predicate is the non-equi vec_id !=
        qid self-pair guard), the top-10 must push down as a
        partial+final WindowGroupLimit so only ~k rows per group
        shuffle, and the path carries at most 3 exchanges (broadcast +
        window hash + final sort range)."""
        df = Q.REGISTRY["s01_cosine_topk"](spark, SF)
        plan = _plan(df)
        assert "CartesianProduct" not in plan
        assert "SortMergeJoin" not in plan
        assert "BroadcastNestedLoopJoin" in plan
        assert plan.count("WindowGroupLimit") >= 2  # partial + final
        assert plan.count("Exchange") <= 3


class TestSimhashStarPlan:
    def test_d24_equi_join_pipeline(self, spark):
        """d24: the star-edge build must stay an equi-join pipeline —
        bucket reps broadcast against the chunk table, never a
        cartesian/nested-loop — with a pinned shuffle budget (breps
        agg + dedup distinct + final sort + broadcast)."""
        df = Q.REGISTRY["d24_simhash_star_edges"](spark, SF)
        plan = _plan(df)
        _no_blowups(plan)
        assert "BroadcastHashJoin" in plan or "ShuffledHashJoin" in plan
        assert "SortMergeJoin" not in plan
        assert plan.count("Exchange") <= 5


class TestEventTimeSessionPlan:
    def test_st05_state_shape(self, spark):
        """st05's production leg (VERDICT r12 #7 — the registry row is
        a drained table, so test_plans was blind to the stateful
        shape): the micro-batch plan must carry exactly ONE exchange —
        the REQUIRED_BY_STATEFUL_OPERATOR hash partitioning on the
        session key — feeding a single FlatMapGroupsInPandasWithState
        above the event-time watermark.  A second exchange means state
        rows started re-shuffling between the watermark and the state
        operator; a missing watermark breaks the sentinel-driven
        timeout flush."""
        import tempfile
        import uuid

        from pyspark.sql import functions as F

        from kinesis_log_streamer_spark.streaming.stateful import (
            sessionize_by_event_time,
        )

        ev = Q._events_stream_with_flush(spark, SF, "st05_plan_pin")
        ev = ev.filter((F.col("user_id") % 3 == 0) | (F.col("user_id") < 0))
        sessions = sessionize_by_event_time(ev, gap="30 minutes")
        name = "plan_pin_" + uuid.uuid4().hex[:8]
        q = (
            sessions.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option(
                "checkpointLocation",
                tempfile.mkdtemp(prefix="klss-pin-ckpt-"),
            )
            .trigger(availableNow=True)
            .start()
        )
        try:
            assert q.awaitTermination(300), "pin drain timed out"
            plan = q._jsq.explainInternal(False)
        finally:
            q.stop()
            spark.catalog.dropTempView(name)
        assert plan.count("FlatMapGroupsInPandasWithState") == 1
        assert plan.count("Exchange") == 1
        assert "REQUIRED_BY_STATEFUL_OPERATOR" in plan
        assert "EventTimeWatermark" in plan
        assert "SortMergeJoin" not in plan


class TestHllMergePlan:
    def test_q64_sketches_merge_not_rows(self, spark):
        """q64: per-shard HLL sketches must build partial (map-side,
        ObjectHashAggregate) and MERGE as sketches — the scale
        argument is that shuffles carry sketch bytes, not rows."""
        df = Q.REGISTRY["q64_hll_partial_union"](spark, SF)
        plan = _plan(df)
        _no_blowups(plan)
        assert "SortMergeJoin" not in plan
        assert plan.count("ObjectHashAggregate") >= 2  # partial + final
        assert "partial" in plan


class TestLttbPlan:
    def test_ts03_single_pass_broadcast_neighbors(self, spark):
        """ts03's committed shape: the per-bucket neighbor table is
        metadata-sized and must come back via BROADCAST (never a
        shuffled join), and the one-pass keep-flag selection must not
        re-run the scan+window subtree per leg — at most the two
        deliberate scans (pts + bucket-stats branch), not the four
        the union-of-legs form produced."""
        plan = _plan(Q.REGISTRY["ts03_lttb_downsample"](spark, SF))
        _no_blowups(plan)
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
        assert plan.count("Scan parquet") <= 2


class TestCdcChunkPlan:
    def test_d25_chunking_is_scan_local(self, spark):
        """d25's scale argument: gear-boundary detection and chunk
        slicing are scan-local expression arithmetic — NO join of any
        kind in the plan, and the only wide stages are the chunk-hash
        aggregation pair plus the final ordered take."""
        plan = _plan(Q.REGISTRY["d25_cdc_chunk_dedup"](spark, SF))
        _no_blowups(plan)
        assert "Join" not in plan
        assert "HashAggregate" in plan


class TestAcfPlan:
    def test_ts04_single_series_pass(self, spark):
        """ts04's committed shape: one scan builds the dense series,
        all six lag windows ride ONE user-partitioned window pass
        (a lag-k self-join family would add six shuffled joins)."""
        plan = _plan(Q.REGISTRY["ts04_acf_seasonality"](spark, SF))
        _no_blowups(plan)
        assert "Join" not in plan
        assert plan.count("Scan parquet") == 1


class TestQ135ApproxTopK:
    def test_matches_exact_topk(self, spark):
        got = [(r.rnk, r.item, r.cnt) for r in
               Q.q135_approx_top_k(spark, SF).collect()]
        exact = (
            load_table(spark, SF, "events")
            .select(
                F.concat_ws(
                    "/", "event_type",
                    (F.col("user_id") % 20).cast("string"),
                ).alias("item")
            )
            .groupBy("item")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("item"))
            .limit(10)
            .collect()
        )
        want = [(i + 1, r.item, r.cnt) for i, r in enumerate(exact)]
        assert got == want


def _pq(name: str) -> pd.DataFrame:
    return pd.read_parquet(f"{SF}/{name}.parquet")


class TestZonemapPrune:
    PROBES = [
        ("year_1996", "1996-01-01", "1996-12-31", 0.0, 1e9),
        ("h1_1998", "1998-01-01", "1998-06-30", 0.0, 1e9),
        ("day_1997_03_15", "1997-03-15", "1997-03-15", 0.0, 1e9),
        ("price_over_400k", "1992-01-01", "2001-12-31", 400000.0, 1e9),
        ("none_2005", "2005-01-01", "2005-12-31", 0.0, 1e9),
    ]

    def _expected(self) -> list[tuple]:
        od = _pq("orders")
        d = pd.to_datetime(od["o_orderdate"]).dt.date
        p = od["o_totalprice"].astype(float)
        fid = (d.map(lambda x: x.year) - 1992) * 2 + (
            d.map(lambda x: x.month) > 6
        ).astype(int)
        zones = {}
        for f in sorted(fid.unique()):
            m = fid == f
            zones[f] = (
                d[m].min(), d[m].max(), p[m].min(), p[m].max(), int(m.sum())
            )
        out = []
        for probe, lo, hi, plo, phi in sorted(self.PROBES):
            lo = datetime.date.fromisoformat(lo)
            hi = datetime.date.fromisoformat(hi)
            pruned = {
                f
                for f, (dmin, dmax, pmin, pmax, _) in zones.items()
                if dmax < lo or dmin > hi or pmax < plo or pmin > phi
            }
            scanned = sum(
                z[4] for f, z in zones.items() if f not in pruned
            )
            matching = int(
                ((d >= lo) & (d <= hi) & (p >= plo) & (p <= phi)).sum()
            )
            out.append((probe, len(zones), len(pruned), scanned, matching))
        return out

    def test_matches_python_recompute(self, spark):
        got = [
            (
                r.probe,
                r.files_total,
                r.files_pruned,
                r.rows_scanned,
                r.rows_matching,
            )
            for r in Q.f25_zonemap_prune(spark, SF).collect()
        ]
        assert got == self._expected()

    def test_clustered_column_prunes_unclustered_does_not(self, spark):
        """Zone maps skip only what the layout sorted: every date
        probe prunes most files; the price-only probe prunes none."""
        rows = {
            r.probe: r
            for r in Q.f25_zonemap_prune(spark, SF).collect()
        }
        assert rows["price_over_400k"].files_pruned == 0
        assert rows["none_2005"].files_pruned == rows["none_2005"].files_total
        assert rows["none_2005"].rows_scanned == 0
        for probe in ("year_1996", "h1_1998", "day_1997_03_15"):
            r = rows[probe]
            assert r.files_pruned >= r.files_total - 3
            # a zone-aware scan never reads fewer rows than match
            assert r.rows_scanned >= r.rows_matching
