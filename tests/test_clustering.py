"""Spherical k-means trace: Lloyd invariants, determinism, the fused
round pinned against the pre-fusion round, and its job budget."""

from __future__ import annotations

import os
import uuid

import pytest
from pyspark.sql import functions as F

from kinesis_log_streamer_spark.operators.clustering import (
    lloyd_assign,
    lloyd_round,
    lloyd_update,
    spherical_kmeans_trace,
)
from kinesis_log_streamer_spark.operators.similarity import (
    _normalized,
    ivf_assign,
)
from kinesis_log_streamer_spark.sources.tables import load_table


class TestSphericalKmeans:
    def test_trace_shape_and_invariants(self, spark, sf_dir):
        emb = load_table(spark, sf_dir, "embeddings")
        n = emb.count()
        rows = spherical_kmeans_trace(
            emb, n_clusters=4, n_iter=3
        ).collect()
        assert [r.iter for r in rows] == [0, 1, 2]
        # every point is assigned every round
        assert all(r.n_points == n for r in rows)
        # Lloyd: objective never increases
        assert all(r.inertia_ok == 1 for r in rows)

    def test_deterministic_across_runs(self, spark, sf_dir):
        emb = load_table(spark, sf_dir, "embeddings")
        a = spherical_kmeans_trace(emb, n_clusters=4, n_iter=2).collect()
        b = spherical_kmeans_trace(emb, n_clusters=4, n_iter=2).collect()
        assert [tuple(r) for r in a] == [tuple(r) for r in b]

    def test_single_cluster_degenerate(self, spark, sf_dir):
        emb = load_table(spark, sf_dir, "embeddings").filter(
            F.col("vec_id") < 50
        )
        rows = spherical_kmeans_trace(
            emb, n_clusters=1, n_iter=2
        ).collect()
        # one cluster: assignment is trivially total, objective flat
        assert all(r.n_points == 50 for r in rows)
        assert all(r.inertia_ok == 1 for r in rows)


# --- old-vs-new pin: the fused round against the pre-fusion round ----

def _reference_kmeans(cn, cents, n_iter):
    """The pre-fusion Lloyd loop, kept verbatim as the reference: an
    ``ivf_assign`` posexplode → broadcast-join → groupBy(id)
    assignment, checkpointed, then a separate objective job and a
    means job that joins back to ``cn``.  Returns (trace, per-round
    {id: cell}, per-round objective, final centroids)."""
    cents = [list(c) for c in cents]
    trace, cells, objs = [], [], []
    prev_j = None
    for it in range(n_iter):
        assigned = ivf_assign(
            cn, cents, nprobe=1, id_col="id", vec_col="nvec",
            with_score=True,
        ).localCheckpoint(eager=True)
        half_sq = F.array(
            *[F.lit(sum(x * x for x in c) / 2.0) for c in cents]
        )
        cos = F.col("score") + F.element_at(half_sq, F.col("cell") + 1)
        stats = assigned.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.lit(1.0) - cos).alias("j"),
        ).collect()[0]
        j = float(stats.j)
        ok = 1 if prev_j is None or j <= prev_j * (1.0 + 1e-9) else 0
        trace.append((it, int(stats.n), ok))
        prev_j = j
        cells.append({r.id: r.cell for r in assigned.collect()})
        objs.append(j)
        means = (
            assigned.join(cn, "id")
            .select("cell", F.posexplode("nvec").alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(F.avg("x").alias("m"))
            .collect()
        )
        by_cell = {}
        for r in means:
            by_cell.setdefault(r.cell, {})[r.pos] = r.m
        for c in range(len(cents)):
            if c not in by_cell:
                continue
            vec = [by_cell[c][p] for p in range(len(cents[c]))]
            nrm = sum(x * x for x in vec) ** 0.5
            if nrm > 0:
                cents[c] = [x / nrm for x in vec]
    return trace, cells, objs, cents


class TestFusedRoundMatchesReference:
    @pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
    def test_cells_objective_centroids_trace(self, spark, sf_dir, sf):
        emb = load_table(
            spark, os.path.join(os.path.dirname(sf_dir), sf), "embeddings"
        )
        k, n_iter = 8, 3
        cn = _normalized(emb, "vec_id", "embedding")
        init = [
            list(r.nvec)
            for r in cn.orderBy("id").limit(k).select("nvec").collect()
        ]
        ref_trace, ref_cells, ref_objs, ref_cents = _reference_kmeans(
            cn.localCheckpoint(eager=True), init, n_iter
        )

        cents = init
        for it in range(n_iter):
            cells = {
                r.id: r.cell
                for r in lloyd_assign(cn, cents).select("id", "cell").collect()
            }
            assert cells == ref_cells[it], f"round {it}"
            n, j, cents = lloyd_update(
                cents, lloyd_round(cn, cents).collect()
            )
            assert n == len(ref_cells[it])
            assert j == pytest.approx(ref_objs[it], rel=1e-9, abs=0.0)
        for c_new, c_ref in zip(cents, ref_cents):
            assert max(abs(a - b) for a, b in zip(c_new, c_ref)) <= 1e-12

        rows = spherical_kmeans_trace(emb, n_clusters=k, n_iter=n_iter)
        assert [tuple(r) for r in rows.collect()] == ref_trace


# --- job count and Python-free path --------------------------------

_PYTHON_MARKERS = (
    "ExistingRDD",  # createDataFrame(list) / checkpoint RDD scans
    "BatchEvalPython",
    "ArrowEvalPython",
    "InPandas",
)


def _run_in_group(spark, fn):
    """Run ``fn`` under a fresh job group; return (job count, physical
    plans of the SQL executions it started)."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        bus.waitUntilEmpty()
        seq = store.executionsList()
        return [seq.apply(i) for i in range(seq.size())]

    seen = {e.executionId() for e in executions()}
    group = f"kmeans-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "k-means job-count pin")
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    plans = [
        e.physicalPlanDescription()
        for e in executions()
        if e.executionId() not in seen
    ]
    return len(sc.statusTracker().getJobIdsForGroup(group)), plans


class TestKmeansJobs:
    def test_at_most_two_jobs_per_round_and_no_python(self, spark, sf_dir):
        emb = load_table(spark, sf_dir, "embeddings")

        def run(n_iter):
            return lambda: spherical_kmeans_trace(
                emb, n_clusters=8, n_iter=n_iter
            ).collect()

        jobs2, _ = _run_in_group(spark, run(2))
        jobs3, plans = _run_in_group(spark, run(3))
        # the pre-fusion round ran 8 jobs (one starting a Python worker)
        assert jobs3 - jobs2 <= 2, (jobs2, jobs3)
        assert plans
        for plan in plans:
            for marker in _PYTHON_MARKERS:
                assert marker not in plan, (marker, plan)
