"""Distributed spherical k-means (Lloyd iterations over embeddings).

The iterative-ML workload class a training-data engine needs beyond
one-shot queries: repeated {assign → update} rounds over the corpus
with a tiny model state.  The Spark-first shape:

* the MODEL (|C| × dim centroid matrix) lives driver-side and enters
  each round's plan as ONE ``array<array<double>>`` literal (a
  ``from_json`` constant the optimizer folds, not |C| × dim Column
  calls) — it is the small side by construction (8 × 64 doubles
  here; even 64k × 4k would be ~2 GB, the documented ceiling for this
  pattern before switching to `pyspark.ml.KMeans`'s block-matrix
  paths);
* the DATA never leaves executors, and a round is ONE aggregation:
  assignment is row-local (a ``transform``/``aggregate`` dot product
  per centroid, then the max of ``struct(score, cell)``), and the same
  pass posexplodes the point into one (cell, pos) hash aggregation
  that yields the per-position sums (the centroid update), plus the
  count and Σ(1 − cos) read at ``pos = 0`` (the objective) — per
  round: one shuffle of |C| × dim partial sums per partition, no
  join, no Python worker, two Spark jobs (shuffle map stage + result
  stage under AQE);
* every round's scalar objective is recorded, so convergence is an
  assertion the DuckDB oracle can gate (monotone non-increase is the
  Lloyd invariant) without replaying engine-specific fp arithmetic.

Spherical variant: unit-normalized points and centroids, objective
J = Σ (1 − cos(v, c(v))).  The mean-then-renormalize update maximizes
Σ cos within each cluster, so J is non-increasing per full round —
the textbook invariant the trace asserts.

The input is re-read and re-normalized every round (one HOF pass per
row, ~1/|C| of the assignment's arithmetic); a caller whose ``df`` is
expensive to recompute should cache it first.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kinesis_log_streamer_spark.operators.similarity import _normalized


def _literal_sql(value, sql_type: str) -> str:
    """One SQL literal of ``sql_type`` holding ``value`` (nested lists
    of floats): a ``from_json`` over a string constant, which the
    optimizer folds to a single Literal.  ``json`` writes each float's
    round-trip ``repr``, so the doubles are exact; analysis sees one
    string, not one node per coordinate."""
    js = json.dumps(value, allow_nan=False)
    return f"from_json('{js}', '{sql_type}')"


def lloyd_assign(cn: DataFrame, cents: list[list[float]]) -> DataFrame:
    """(id, nvec, cell, cost): each (id, nvec) unit vector's cell and
    its 1 − cos to that cell's centroid, computed row-locally.

    cell = argmax over cells of score = v·c − ||c||²/2 — the same
    score, accumulation order (left fold from 0) and tie-break
    (highest cell on an equal score) as
    :func:`~.similarity.ivf_assign` — and cos is recovered as
    score + ||c||²/2 without a second dot product."""
    mat = _literal_sql(cents, "array<array<double>>")
    half = _literal_sql(
        [sum(x * x for x in c) / 2.0 for c in cents], "array<double>"
    )
    best = F.expr(
        f"array_max(transform({mat}, (c, k) -> named_struct("
        "'score', aggregate(zip_with(nvec, c, (a, b) -> a * b), 0D, "
        f"(acc, p) -> acc + p) - {half}[k], 'cell', k)))"
    )
    return cn.select("id", "nvec", best.alias("b")).select(
        "id",
        "nvec",
        F.col("b.cell").alias("cell"),
        F.expr(f"1D - (b.score + {half}[b.cell])").alias("cost"),
    )


def lloyd_round(cn: DataFrame, cents: list[list[float]]) -> DataFrame:
    """One Lloyd round as ONE aggregation over :func:`lloyd_assign`:
    (cell, pos, n, j, s) — per assigned cell and vector position, the
    coordinate sum ``s``, plus the cell's point count ``n`` and
    objective ``j`` = Σ(1 − cos): each point lands once in every
    (cell, pos) group, so the ``pos = 0`` row carries them.  The plan
    is scan → row-local assign → posexplode → partial agg → one
    Exchange → final agg, whatever ``dim`` is."""
    return (
        lloyd_assign(cn, cents)
        .select("cell", "cost", F.posexplode("nvec").alias("pos", "x"))
        .groupBy("cell", "pos")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cost").alias("j"),
            F.sum("x").alias("s"),
        )
    )


def lloyd_update(
    cents: list[list[float]], rows: list
) -> tuple[int, float, list[list[float]]]:
    """(n_points, objective, next centroids) from a collected
    :func:`lloyd_round`.  Each centroid becomes its cell's mean,
    renormalized; an empty cluster keeps its previous centroid."""
    n_by_cell: dict[int, int] = {}
    j_by_cell: dict[int, float] = {}
    sums: dict[int, dict[int, float]] = {}
    for r in rows:
        sums.setdefault(r.cell, {})[r.pos] = r.s
        if r.pos == 0:
            n_by_cell[r.cell] = r.n
            j_by_cell[r.cell] = r.j
    nxt = []
    for c, cent in enumerate(cents):
        if c in n_by_cell:
            n = float(n_by_cell[c])
            vec = [sums[c][p] / n for p in range(len(cent))]
            nrm = sum(x * x for x in vec) ** 0.5
            if nrm > 0:
                cent = [x / nrm for x in vec]
        nxt.append(cent)
    j = sum(j_by_cell[c] for c in sorted(j_by_cell))
    return sum(n_by_cell.values()), j, nxt


def spherical_kmeans_trace(
    df: DataFrame,
    n_clusters: int = 8,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Run ``n_iter`` (≥ 1) Lloyd rounds; return the per-round
    assertion trace (iter, n_points, inertia_ok).

    * ``n_points`` — rows assigned that round (every point, every
      round: assignment is total).
    * ``inertia_ok`` — 1 iff the round's objective did not increase
      over the previous round (trivially 1 for round 0).  A relative
      1e-9 slack absorbs fp re-association across partition counts.

    Init is deterministic: the ``n_clusters`` lowest vector ids (no
    seeded sample — the oracle must know nothing about Spark's
    sampling).  Empty clusters keep their previous centroid.
    """
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")
    cn = _normalized(df, id_col, vec_col)

    init = cn.orderBy("id").limit(n_clusters).select("nvec").collect()
    cents: list[list[float]] = [list(r.nvec) for r in init]

    trace: list[tuple[int, int, int]] = []
    prev_j: float | None = None
    for it in range(n_iter):
        # The recorded objective pairs this assignment with THE
        # CENTROIDS THAT PRODUCED IT; ``cents`` moves on after.
        n, j, cents = lloyd_update(cents, lloyd_round(cn, cents).collect())
        ok = 1 if prev_j is None or j <= prev_j * (1.0 + 1e-9) else 0
        trace.append((it, n, ok))
        prev_j = j

    # Inline VALUES plans as a LocalTableScan: no Python RDD, no job.
    values = ", ".join(f"({i}, {n}L, {ok})" for i, n, ok in trace)
    return df.sparkSession.sql(
        f"SELECT * FROM VALUES {values} AS t(iter, n_points, inertia_ok)"
    )
