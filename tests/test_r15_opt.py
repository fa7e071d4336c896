"""Round-15 optimization equivalence tests.

The r15 optimization round rewrote query INTERNALS for speed with an
identical-output contract (OPTIMIZATION_r15.md).  These tests pin that
contract independently of the DuckDB oracles, the same way
tests/test_r14_opt.py pinned the r14 rewrites.

l09_rolling_anomaly: the sliding-frame avg/stddev (O(rows·100) buffer
rebuilds in Spark's SlidingWindowFunctionFrame) was replaced by exact
decimal prefix sums differenced at the frame edges (O(1)/row).  The
pre-rewrite sliding-frame form is reproduced inline here and compared
row-for-row on real testdata AND on synthetic 2-decimal data, plus a
boundary-margin audit showing every z sits far from the round(z, 3)
half-up boundaries and the |z| > 3 cut where the two arithmetics could
disagree.  The decimal frame sums are also pinned at values of 1e5–1e6
(no NULL z, same rows as the sliding frame), and the fixtures'
2-decimal ``value`` assumption is checked.
"""

from __future__ import annotations

import math
import os
import random

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from kinesis_log_streamer_spark.plans import queries as Q

SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]


def _l09_sliding_frame(ev):
    """The pre-r15 l09 form: sliding-frame window aggregates."""
    w = (
        W.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-100, -1)
    )
    scored = ev.select(
        "event_id",
        "event_type",
        "value",
        F.avg("value").over(w).alias("mu"),
        F.stddev_samp("value").over(w).alias("sd"),
        F.count("value").over(w).alias("n_hist"),
    )
    return (
        scored.filter(F.col("n_hist") == 100)
        .withColumn("z", (F.col("value") - F.col("mu")) / F.col("sd"))
        .filter(F.abs("z") > 3)
        .select(
            "event_id",
            "event_type",
            F.round("value", 2).alias("value"),
            F.round("z", 3).alias("z"),
        )
        .orderBy("event_id")
    )


def _l09_prefix_z(ev):
    """The shipped prefix-sum internals, stopping BEFORE rounding: every
    (event_id, unrounded z) with a full 100-row history."""
    return Q._l09_history_z(ev).select("event_id", "z")


def _synthetic_events(spark, n_rows=6000, n_types=3, seed=1715, scale=1.0):
    """Deterministic 2-decimal synthetic events: mostly-normal values
    with injected outliers so the |z| > 3 filter actually fires;
    ``scale`` multiplies the value distribution."""
    rng = random.Random(seed)
    rows = []
    for i in range(n_rows):
        et = f"type_{i % n_types}"
        if rng.random() < 0.02:
            v = round(scale * rng.uniform(300.0, 480.0), 2)  # outlier band
        else:
            v = round(scale * rng.gauss(100.0, 15.0), 2)
        rows.append((i, i * 1000, et, max(v, 0.01)))
    return spark.createDataFrame(
        rows, "event_id long, ts long, event_type string, value double"
    )


class TestExprStringTreeEquivalence:
    """The r15 expr-string builders (minhash_signatures' k min
    aggregates + signature array, lsh_candidate_pairs' band structs,
    pq_encode's per-code aggregates + argmin struct array) must parse
    to the CANONICALLY IDENTICAL analyzed trees as the pre-r15
    Column-algebra constructions — zero plan or result change, only
    fewer py4j round trips."""

    def _docs(self, spark):
        return spark.createDataFrame(
            [
                (1, "alpha beta gamma delta epsilon"),
                (2, "one two three four five six"),
                (3, "alpha beta gamma delta zeta"),
            ],
            "doc_id long, text string",
        )

    def test_minhash_sigs_and_bands_canonical(self, spark):
        from kinesis_log_streamer_spark.operators import dedup as D

        docs = self._docs(spark)

        def old_sigs(df, text_col="text", id_col="doc_id",
                     num_hashes=32, shingle_n=3):
            m = 2147483647
            rng = __import__("random").Random(42)
            a_consts = [rng.randrange(1, m) for _ in range(num_hashes)]
            b_consts = [rng.randrange(0, m) for _ in range(num_hashes)]
            rows = df.filter(
                F.size(D.tokens_col(F.col(text_col))) >= shingle_n
            ).select(
                F.col(id_col).alias("id"),
                F.explode(
                    D.hashed_shingles_col(
                        D.tokens_col(F.col(text_col)), shingle_n
                    )
                ).alias("s"),
            )
            h = F.pmod(F.col("s"), F.lit(m))
            prof = rows.groupBy("id").agg(
                F.collect_set("s").alias("shingles"),
                *[
                    F.min(
                        F.pmod(h * F.lit(a) + F.lit(b), F.lit(m))
                    ).alias(f"mh{k}")
                    for k, (a, b) in enumerate(zip(a_consts, b_consts))
                ],
            )
            sig = F.array(
                *[F.col(f"mh{k}") for k in range(num_hashes)]
            ).alias("sig")
            return prof.select("id", "shingles", sig)

        def old_bands(sig_df, bands=8, rows_per_band=4):
            return sig_df.select(
                "id",
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(b).alias("band_id"),
                                F.xxhash64(
                                    *[
                                        F.col("sig")[b * rows_per_band + r]
                                        for r in range(rows_per_band)
                                    ]
                                ).alias("band_hash"),
                            )
                            for b in range(bands)
                        ]
                    )
                ).alias("bucket"),
            ).select("id", "bucket.band_id", "bucket.band_hash")

        def canon(df):
            return (
                df._jdf.queryExecution().analyzed().canonicalized().toString()
            )

        new_s, old_s = D.minhash_signatures(docs), old_sigs(docs)
        assert canon(new_s) == canon(old_s)
        # band construction canonical equality, probed on the shared
        # banded projection (the join on top adds nothing new)
        new_banded = D.lsh_candidate_pairs(new_s)
        old_banded = (
            lambda banded: banded.alias("a")
            .join(
                banded.alias("b"),
                (F.col("a.band_id") == F.col("b.band_id"))
                & (F.col("a.band_hash") == F.col("b.band_hash"))
                & (F.col("a.id") < F.col("b.id")),
            )
            .select(
                F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")
            )
            .distinct()
        )(old_bands(old_s))
        assert canon(new_banded) == canon(old_banded)

    def test_pq_encode_canonical(self, spark):
        from kinesis_log_streamer_spark.operators import similarity as S

        emb = spark.createDataFrame(
            [(i, [float(i + j) for j in range(8)]) for i in range(20)],
            "vec_id long, embedding array<double>",
        )
        books = S.pq_codebooks(emb, m=4, n_codes=4)

        def old_encode(df, books, id_col="vec_id", vec_col="embedding"):
            m, n_codes = len(books), len(books[0])
            sub = len(books[0][0])
            sp = df.sparkSession
            rows = []
            for s in range(m):
                for p in range(sub):
                    rows.append(
                        (
                            s * sub + p,
                            s,
                            *[float(books[s][c][p]) for c in range(n_codes)],
                        )
                    )
            cents = sp.createDataFrame(
                rows, ["pos", "sub", *[f"c{c}" for c in range(n_codes)]]
            )
            half_sq = F.array(
                *[
                    F.array(
                        *[
                            F.lit(sum(x * x for x in books[s][c]) / 2.0)
                            for c in range(n_codes)
                        ]
                    )
                    for s in range(m)
                ]
            )
            exploded = df.select(
                F.col(id_col).alias("id"),
                F.posexplode(F.col(vec_col).cast("array<double>")).alias(
                    "pos", "val"
                ),
            )
            dots = (
                exploded.join(F.broadcast(cents), "pos")
                .groupBy("id", "sub")
                .agg(
                    *[
                        F.sum(F.col("val") * F.col(f"c{c}")).alias(f"d{c}")
                        for c in range(n_codes)
                    ]
                )
            )
            scored = F.array(
                *[
                    F.struct(
                        (
                            F.col(f"d{c}")
                            - F.element_at(
                                F.element_at(
                                    half_sq, (F.col("sub") + 1).cast("int")
                                ),
                                c + 1,
                            )
                        ).alias("score"),
                        F.lit(c).alias("cell"),
                    )
                    for c in range(n_codes)
                ]
            )
            best = F.element_at(F.reverse(F.array_sort(scored)), 1)["cell"]
            return dots.select("id", "sub", best.alias("code"))

        new = S.pq_encode(emb, books)
        old = old_encode(emb, books)
        assert (
            new._jdf.queryExecution().analyzed().canonicalized().toString()
            == old._jdf.queryExecution().analyzed().canonicalized().toString()
        )


def _t22_window_form(spark, sf):
    """The pre-r15 t22 form: df as count() OVER (PARTITION BY g) on
    the exploded rows — the shape whose per-gram window partition
    buffers a hot gram in one task at scale."""
    from kinesis_log_streamer_spark.operators import text as TX

    docs = Q._t(spark, sf, "documents")
    grams = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(TX.ngrams_col(F.col("text"), 3))
        ).alias("g"),
    )
    with_df = grams.withColumn(
        "df", F.count(F.lit(1)).over(W.partitionBy("g"))
    )
    per_doc = with_df.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.count(F.when(F.col("df") >= 2, 1)).alias("n_shared"),
    )
    return per_doc.select(
        "doc_id",
        "n_grams",
        "n_shared",
        F.expr("(2*1000*n_shared + n_grams) div (2*n_grams)").alias(
            "shared_permille"
        ),
    ).orderBy("doc_id")


class TestT22SkewSafeDf:
    @pytest.mark.parametrize("sf", SFS)
    def test_matches_window_form(self, spark, sf):
        old = _t22_window_form(spark, sf).collect()
        new = Q.t22_ngram_novelty(spark, sf).collect()
        assert [tuple(r) for r in new] == [tuple(r) for r in old]
        assert len(new) > 0

    def test_plan_has_no_per_gram_window_or_doc_broadcast(self, spark):
        """The scale contract: no Window over raw gram rows (the skew
        bound the rewrite removes), partial aggregation below every
        gram exchange, and no broadcast of the |docs|-sized unique-
        count side."""
        import io
        from contextlib import redirect_stdout

        df = Q.t22_ngram_novelty(spark, SFS[0])
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        assert ") Window" not in plan
        assert "BroadcastExchange" not in plan
        assert "partial_count" in plan
        assert "partial_min" in plan
        assert "SortMergeJoin" in plan


class TestL09PrefixSumEquivalence:
    @pytest.mark.parametrize("sf", SFS)
    def test_matches_sliding_frame_on_testdata(self, spark, sf):
        ev = Q._t(spark, sf, "events")
        old = _l09_sliding_frame(ev).collect()
        new = Q.l09_rolling_anomaly(spark, sf).collect()
        assert [tuple(r) for r in new] == [tuple(r) for r in old]
        assert len(new) > 0  # the comparison must not be vacuous

    def test_matches_sliding_frame_on_synthetic(self, spark):
        ev = _synthetic_events(spark)
        old = _l09_sliding_frame(ev).collect()
        new = Q._l09_anomalies(ev).collect()
        assert [tuple(r) for r in new] == [tuple(r) for r in old]
        assert len(new) > 10

    @pytest.mark.parametrize("sf", SFS)
    def test_round_boundary_margin(self, spark, sf):
        """No unrounded z sits near a round(z, 3) half-up boundary or
        the |z| > 3 cut — the only places where the exact-decimal and
        the sliding-double arithmetic (a few ulp apart) could diverge
        after rounding.  Both arithmetics are within ~1e-10 relative
        of the true z; a 1e-6 observed margin is therefore >1000x the
        disagreement band."""
        zs = [r.z for r in _l09_prefix_z(Q._t(spark, sf, "events")).collect()]
        assert zs
        for z in zs:
            # distance to the |z| > 3 filter cut (every candidate row)
            assert abs(abs(z) - 3.0) > 1e-6, z
            if abs(z) > 3.0:
                # distance to the x.xxx5 half-up rounding boundary
                # (output rows only — the rounding exists only there)
                scaled = abs(z) * 1000.0
                frac = scaled - math.floor(scaled)
                assert abs(frac - 0.5) > 1e-6, z


class TestL09DecimalCeiling:
    """The frame sums' DECIMAL types bound the magnitude l09 can score:
    at (12,2)/(16,4) a 100-row Σv² overflowed once values reached
    ~1e5 — NULL z with ANSI off (anomalies silently dropped), an
    overflow error with ANSI on."""

    @pytest.mark.parametrize("ansi", ["false", "true"])
    def test_values_1e5_to_1e6_match_sliding_frame(self, spark, ansi):
        # values ~1e5 (mass at 1.5e5 ± 2.25e4), outliers 4.5e5–7.2e5
        ev = _synthetic_events(spark, scale=1500.0)
        prev = spark.conf.get("spark.sql.ansi.enabled")
        spark.conf.set("spark.sql.ansi.enabled", ansi)
        try:
            new = Q._l09_anomalies(ev).collect()
            nulls = Q._l09_history_z(ev).filter(F.col("z").isNull()).count()
        finally:
            spark.conf.set("spark.sql.ansi.enabled", prev)
        old = _l09_sliding_frame(ev).collect()
        assert nulls == 0
        assert [tuple(r) for r in new] == [tuple(r) for r in old]
        assert len(new) > 10
        assert max(r.value for r in new) > 4e5

    @pytest.mark.parametrize(
        "sf", [*SFS, os.path.join(os.path.dirname(SFS[0]), "sf0.1")]
    )
    def test_fixture_values_are_two_decimal(self, spark, sf):
        """The exact-decimal form assumes 2-decimal money: the
        decimal(18,2) cast of ``value`` must be lossless."""
        ev = Q._t(spark, sf, "events")
        bad = ev.filter(F.col("value") != F.round("value", 2)).count()
        assert bad == 0
        assert ev.filter(F.col("value").isNotNull()).count() > 0
