"""Similarity search over embedding columns (``array<float>``).

Two paths, same API shape:

* **Brute-force cosine top-k** — correctness baseline. Query vectors
  broadcast to every partition; cosine computed JVM-side
  (functions/vector.py); per-query top-k via ranked window. Shuffle is
  |corpus| × |queries| *rows of (id, score)* — narrow — and only on the
  query key. Exact, oracle-checked.
* **Random-hyperplane LSH** — the scale path. Each vector gets an
  H-bit signature (sign of projection onto seeded hyperplanes), split
  into bands; candidates come from band-bucket equi-joins, then exact
  cosine re-ranks the (much smaller) candidate set. At 100 TB the
  bucket join replaces the corpus×queries product with
  O(collisions) — the standard ANN trade (recall tunable via
  bits/bands).

Hyperplanes are generated driver-side from a fixed seed (numpy) and
injected as literal arrays — deterministic across runs and executors.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from kinesis_log_streamer_spark.functions.vector import cosine_sim, dot, l2_norm
from kinesis_log_streamer_spark.session import CACHE


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors per query vector.

    Returns (qid, vec_id, cos4, rnk). Ranking uses round(cos, 6) with
    the neighbor id as tiebreaker so ordering is engine-stable.

    Norms are computed once per row on each side, so the per-pair work
    is a single dot product; the final cosine is dot/(norm·norm) —
    bit-identical to DuckDB's ``list_cosine_similarity`` evaluation
    order (do NOT switch to pre-normalized vectors here: that changes
    the fp rounding path and can flip round(cos, 6) on ties).  All
    float64: the source column is array<float> and mixed-precision
    accumulation is not oracle-reproducible.  Query vectors broadcast;
    the corpus is never shuffled.
    """
    cv = F.col(vec_col).cast("array<double>")
    cn = corpus.select(
        F.col(id_col).alias("id"), cv.alias("v"), l2_norm(cv).alias("nrm")
    )
    qv = F.col(vec_col).cast("array<double>")
    qn = queries.select(
        F.col(id_col).alias("qid"), qv.alias("q_v"), l2_norm(qv).alias("q_nrm")
    )
    d = dot(F.col("v"), F.col("q_v"))
    denom = F.col("nrm") * F.col("q_nrm")
    cos = F.when(denom > 0, d / denom).otherwise(F.lit(0.0))
    scored = cn.join(F.broadcast(qn), F.col("id") != F.col("qid")).select(
        "qid",
        F.col("id").alias(id_col),
        F.round(cos, 6).alias("cos6"),
    )
    w = W.partitionBy("qid").orderBy(F.desc("cos6"), F.asc(id_col))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("qid", id_col, F.round("cos6", 4).alias("cos4"), "rnk")
    )


def _hyperplanes(dim: int, bits: int, seed: int = 42) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((bits, dim)).tolist()


def _planes_df(spark, dim: int, bits: int, seed: int):
    """The ``dim`` x (pos, w0..w{bits-1}) plane relation, built once per
    session: re-building it (Python→JVM conversion plus analysis) cost
    ~100 ms of driver time per lsh_sig_bits call."""

    def build():
        planes = _hyperplanes(dim, bits, seed)  # bits × dim
        plane_rows = [
            (pos, *[float(planes[i][pos]) for i in range(bits)])
            for pos in range(dim)
        ]
        return spark.createDataFrame(
            plane_rows, ["pos", *[f"w{i}" for i in range(bits)]]
        )

    return CACHE.get(spark, ("lsh_planes", dim, bits, seed), build)


def lsh_sig_bits(
    df: DataFrame,
    dim: int,
    bits: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, sig_bits): random-hyperplane signature, bit i =
    sign(v · plane_i) — NO vector column (banding never needs it).

    Computed as a matrix product in codegen land: posexplode the
    vector to (id, pos, val) rows, broadcast-join the plane matrix as
    one row per position carrying all ``bits`` weights, then a single
    hash aggregation of ``bits`` sum(val·w_i) projections.  One narrow
    shuffle of |vecs| × bits doubles; map-side partials; no
    interpreted higher-order lambdas (the per-plane ``zip_with`` +
    ``aggregate`` form is ~5× slower at sf0.1).  The plane matrix is
    dim rows × bits cols — broadcast, seeded, deterministic.
    """
    planes_df = _planes_df(df.sparkSession, dim, bits, seed)
    exploded = df.select(
        F.col(id_col),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "val"),
    )
    projs = (
        exploded.join(F.broadcast(planes_df), "pos")
        .groupBy(id_col)
        .agg(*[F.sum(F.col("val") * F.col(f"w{i}")).alias(f"p{i}") for i in range(bits)])
    )
    sig = F.array(
        *[
            F.when(F.col(f"p{i}") >= 0, F.lit(1)).otherwise(F.lit(0))
            for i in range(bits)
        ]
    ).alias("sig_bits")
    return projs.select(id_col, sig)


def lsh_signatures(
    df: DataFrame,
    dim: int,
    bits: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, vec, sig_bits) — :func:`lsh_sig_bits` joined back to the
    vectors, for callers that need both."""
    return df.select(id_col, vec_col).join(
        lsh_sig_bits(df, dim, bits, seed, id_col, vec_col), id_col
    )


def _normalized(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, nvec): unit-normalized float64 vectors, one HOF pass per
    row.  Downstream cosine becomes a plain dot product — norms are
    never re-derived per candidate pair."""
    v = F.col(vec_col).cast("array<double>")
    staged = df.select(
        F.col(id_col).alias("id"), v.alias("v"), l2_norm(v).alias("nrm")
    )
    # Two projections: the norm is aliased BEFORE the transform lambda
    # references it, so it is evaluated once per row, not per element.
    nvec = F.when(
        F.col("nrm") > 0, F.transform("v", lambda x: x / F.col("nrm"))
    ).otherwise(F.col("v"))
    return staged.select("id", nvec.alias("nvec"))


def _band_keys(
    sigs: DataFrame,
    bits: int,
    bands: int,
    id_col: str = "vec_id",
    portable_keys: bool = False,
) -> DataFrame:
    """(id, band_id, band_hash) — NARROW banding rows.  Only ids and two
    ints travel through the bucket self-join and distinct; vectors are
    joined back after candidates are deduped.  At 100 TB this is the
    difference between shuffling ids and shuffling the embedding
    matrix.

    ``portable_keys=True`` swaps the xxhash64 band hash (JVM-only)
    for the literal bit string of the band ('01011010'), which any
    SQL engine reproduces exactly — same buckets, same candidate
    set, so the WHOLE pipeline becomes oracle-hashable (the dedup
    twin is portable_minhash_pairs vs the xxhash64 d02).  Key width
    grows from 8 bytes to rows_per_band bytes; bucketing behavior is
    identical because the hash was only ever an equality key."""
    rows_per_band = bits // bands

    def _key(b: int):
        cols = [
            F.col("sig_bits")[b * rows_per_band + r]
            for r in range(rows_per_band)
        ]
        if portable_keys:
            return F.concat_ws("", *[c.cast("string") for c in cols])
        return F.xxhash64(*cols)

    return sigs.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        _key(b).alias("band_hash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("id", "bk.band_id", "bk.band_hash")


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    bits: int = 16,
    bands: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    queries_in_corpus: bool = False,
) -> DataFrame:
    """Approximate top-k via banded hyperplane-LSH + exact re-rank.

    Candidates = vectors sharing ≥1 band bucket with the query
    (id-only banding rows; see :func:`_band_keys`), then exact cosine
    — a single dot product over pre-normalized vectors — ranks the
    candidate set.  Recall < 1 by design; the driver check is
    rows-only and tests assert recall vs brute force.

    ``queries_in_corpus=True`` declares the query set a subset of the
    corpus (the common self-search shape): signatures and normalized
    vectors are computed ONCE over the corpus and the query side is a
    semi-join on query ids, so Catalyst reuses the signature exchange
    instead of running the posexplode→broadcast-matmul→agg pipeline a
    second time.  Results are identical (same seed, same planes).
    """
    cb = _band_keys(lsh_sig_bits(corpus, dim, bits, seed, id_col, vec_col), bits, bands, id_col)
    cn = _normalized(corpus, id_col, vec_col)
    if queries_in_corpus:
        qids = queries.select(F.col(id_col).alias("id"))
        qb = cb.join(F.broadcast(qids), "id")
        qn_src = cn.join(F.broadcast(qids), "id")
    else:
        qb = _band_keys(
            lsh_sig_bits(queries, dim, bits, seed, id_col, vec_col), bits, bands, id_col
        )
        qn_src = _normalized(queries, id_col, vec_col)
    cand = (
        cb.join(
            F.broadcast(qb.select(F.col("id").alias("qid"), "band_id", "band_hash")),
            ["band_id", "band_hash"],
        )
        .filter(F.col("id") != F.col("qid"))
        .select("qid", "id")
        .distinct()
    )
    qn = qn_src.select(F.col("id").alias("qid"), F.col("nvec").alias("q_nvec"))
    scored = (
        cand.join(cn, "id")
        .join(F.broadcast(qn), "qid")
        .select(
            "qid",
            F.col("id").alias(id_col),
            F.round(dot(F.col("nvec"), F.col("q_nvec")), 6).alias("cos6"),
        )
    )
    w = W.partitionBy("qid").orderBy(F.desc("cos6"), F.asc(id_col))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("qid", id_col, F.round("cos6", 4).alias("cos4"), "rnk")
    )


def ivf_assign(
    df: DataFrame,
    centroids: list[list[float]],
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    with_score: bool = False,
) -> DataFrame:
    """(id, cell): assign each vector to its ``nprobe`` nearest
    coarse-quantizer cells (IVF-Flat).

    argmin ||v − c||² = argmax (v·c − ||c||²/2), so assignment is the
    same broadcast-matmul shape as :func:`lsh_signatures`: posexplode
    the vector, broadcast the centroid matrix as one row per position,
    one hash aggregation of |C| dot products, then rank cells per
    vector.  Everything is codegen; the only wide thing broadcast is
    the |C| × dim centroid matrix.
    """
    n_cent = len(centroids)
    dim = len(centroids[0])
    spark = df.sparkSession
    half_sq = [sum(x * x for x in c) / 2.0 for c in centroids]
    rows = [
        (pos, *[float(centroids[c][pos]) for c in range(n_cent)])
        for pos in range(dim)
    ]
    cents_df = spark.createDataFrame(rows, ["pos", *[f"c{c}" for c in range(n_cent)]])
    exploded = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "val"),
    )
    dots = (
        exploded.join(F.broadcast(cents_df), "pos")
        .groupBy("id")
        .agg(*[F.sum(F.col("val") * F.col(f"c{c}")).alias(f"d{c}") for c in range(n_cent)])
    )
    scored = F.array(
        *[
            F.struct(
                (F.col(f"d{c}") - F.lit(half_sq[c])).alias("score"),
                F.lit(c).alias("cell"),
            )
            for c in range(n_cent)
        ]
    )
    top_cells = F.slice(F.reverse(F.array_sort(scored)), 1, nprobe)
    out = dots.select("id", F.explode(top_cells).alias("sc"))
    if with_score:
        # score = dot(v, c) − ||c||²/2; the caller can recover the raw
        # dot with the (driver-known) half-norms — lets k-means derive
        # its objective from the assignment pass, no second matmul.
        return out.select(
            "id",
            F.col("sc.cell").alias("cell"),
            F.col("sc.score").alias("score"),
        )
    return out.select("id", F.col("sc.cell").alias("cell"))


def sample_centroids(
    df: DataFrame,
    n_centroids: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Seeded-sample centroids (IVF coarse quantizer without a k-means
    fit; swap in pyspark.ml KMeans cluster centers for tighter cells).

    Picks the n vectors with the smallest ``xxhash64(id, seed)`` —
    a deterministic uniform sample compiled to TakeOrderedAndProject
    (per-partition top-n, driver merge; no global sort).  Driver-side
    list — |C| × dim floats, broadcast-sized by design."""
    rows = (
        df.select(
            F.col(vec_col).cast("array<double>").alias("v"),
            F.xxhash64(F.col(id_col), F.lit(seed)).alias("__h"),
        )
        .orderBy("__h")
        .limit(n_centroids)
        .collect()
    )
    return [list(r.v) for r in rows]


def ivf_prepare(
    corpus: DataFrame,
    n_centroids: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    materialize: bool = True,
):
    """Build the query-independent half of an IVF index once:
    (centroids, corpus cell assignments, normalized corpus).

    ``materialize=True`` pins the assignment and normalization
    outputs with an eager localCheckpoint so N probe calls against
    the same index (the s11 nprobe sweep re-ran the full assignment
    matmul per level: 32 scans / 52 shuffles in the r5 plan audit)
    reuse them instead of re-deriving from the raw scan — the
    in-session analogue of s15's persisted on-disk index."""
    cents = sample_centroids(corpus, n_centroids, seed, id_col, vec_col)
    c_cells = ivf_assign(corpus, cents, 1, id_col, vec_col)
    cn = _normalized(corpus, id_col, vec_col)
    if materialize:
        c_cells = c_cells.localCheckpoint(eager=True)
        cn = cn.localCheckpoint(eager=True)
    return cents, c_cells, cn


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    queries_in_corpus: bool = False,
    prepared=None,
    q_cells: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k via IVF cells: corpus vectors live in their
    single nearest cell, queries probe their ``nprobe`` nearest cells,
    exact cosine re-ranks the probed candidates.

    The 100 TB shape: the corpus is PARTITIONED by cell (in storage:
    parquet partitioned on the cell column), so a query touches
    nprobe/|C| of the data — partition pruning for vector search.
    Recall tunes with nprobe; rows-only driver check, recall asserted
    vs brute force in tests.

    ``queries_in_corpus=True``: query cell-probes are derived by
    filtering the corpus by query id before assignment (identical
    numbers — same centroids), and the normalized query vectors are a
    semi-join on the corpus's normalized output, letting Catalyst
    reuse the corpus-side exchanges rather than re-running the
    assignment matmul on a second scan.
    """
    if prepared is None:
        prepared = ivf_prepare(
            corpus, n_centroids, seed, id_col, vec_col, materialize=False
        )
    cents, c_cells, cn = prepared
    # q_cells override: a caller sweeping nprobe (s11) ranks the
    # query assignments ONCE at the deepest probe and slices per
    # level — probe sets are nested, so rank <= nprobe is exactly
    # this level's assignment and the matmul is not re-run.
    if queries_in_corpus:
        qids = queries.select(F.col(id_col).alias("id"))
        if q_cells is None:
            q_src = corpus.join(
                F.broadcast(queries.select(id_col)), id_col
            )
            q_cells = ivf_assign(q_src, cents, nprobe, id_col, vec_col)
        qn_src = cn.join(F.broadcast(qids), "id")
    else:
        if q_cells is None:
            q_cells = ivf_assign(queries, cents, nprobe, id_col, vec_col)
        qn_src = _normalized(queries, id_col, vec_col)
    cand = (
        c_cells.join(
            F.broadcast(q_cells.select(F.col("id").alias("qid"), "cell")), "cell"
        )
        .filter(F.col("id") != F.col("qid"))
        .select("qid", "id")
        .distinct()
    )
    qn = qn_src.select(F.col("id").alias("qid"), F.col("nvec").alias("q_nvec"))
    scored = (
        cand.join(cn, "id")
        .join(F.broadcast(qn), "qid")
        .select(
            "qid",
            F.col("id").alias(id_col),
            F.round(dot(F.col("nvec"), F.col("q_nvec")), 6).alias("cos6"),
        )
    )
    w = W.partitionBy("qid").orderBy(F.desc("cos6"), F.asc(id_col))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("qid", id_col, F.round("cos6", 4).alias("cos4"), "rnk")
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    dim: int,
    min_cosine: float = 0.95,
    bits: int = 32,
    bands: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    portable_keys: bool = False,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via LSH buckets + exact
    verify (the embedding twin of MinHash text dedup).

    Banding rows carry ids only; candidate pairs are deduped narrow,
    then the pre-normalized vectors join back for a dot-product-only
    verify.  The corpus-side vector join is a plain shuffle join on id
    — at 100 TB both sides partition by id and nothing wide is
    duplicated per band.

    Default 32 bits / 4 bands = 8-bit band keys: random pairs collide
    at ~1/256 per band (vs 1/16 with 4-bit bands — a candidate-set
    blowup measured at sf0.1), while true near-dups at the default
    0.95 threshold still collide in some band with p ≈ 0.9."""
    banded = _band_keys(
        lsh_sig_bits(df, dim, bits, seed, id_col, vec_col),
        bits,
        bands,
        id_col,
        portable_keys=portable_keys,
    )
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    nv = _normalized(df, id_col, vec_col)
    scored = (
        cand.join(nv.select(F.col("id").alias("id_a"), F.col("nvec").alias("nv_a")), "id_a")
        .join(nv.select(F.col("id").alias("id_b"), F.col("nvec").alias("nv_b")), "id_b")
        .select("id_a", "id_b", F.round(dot(F.col("nv_a"), F.col("nv_b")), 4).alias("cosine"))
    )
    return scored.filter(F.col("cosine") >= min_cosine).select("id_a", "id_b", "cosine")


def embedding_star_edges(
    df: DataFrame,
    dim: int,
    min_cosine: float = 0.95,
    bits: int = 32,
    bands: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    portable_keys: bool = False,
) -> DataFrame:
    """Embedding near-dup SPANNING EDGES — the s04→s22 twin of the
    d03→d24 SimHash relationship (VERDICT r13 next #5).

    :func:`embedding_near_dup_pairs` emits every verified bucket pair:
    a clique of k replicated vectors costs C(k,2) candidates and
    C(k,2) output rows — output (and verify traffic) quadratic in the
    duplication factor, the bend SCALING measured at 11.92× on the
    replica corpus.  For CLUSTER BUILDS (dedup keep-lists, SemDeDup
    sharding) the clique edges are redundant: connected components
    only need a spanning set.  Here each LSH bucket anchors at its
    min-id member and emits (anchor, member) candidates only — k−1
    per bucket — then the same narrow-candidate / join-back /
    exact-cosine verify as the pair emitter.

    Contract (same as d24): star components REFINE pair components in
    general (a member failing the cosine verify against its bucket's
    anchor gets no edge from that bucket even if it pairs with another
    member); on duplicate-cluster corpora — replicas share every band
    bucket and verify at cosine 1.0 against the anchor — components
    are IDENTICAL, with candidate volume linear in k.

    Scale: banding rows are narrow (id + 2 ints); the anchor is a
    bucket-local ``min() over (partition by band)`` — one shuffle on
    the band key, NO bucket self-join at all, so a hot bucket costs
    |bucket| window rows instead of |bucket|² join rows."""
    from pyspark.sql import Window  # noqa: PLC0415

    banded = _band_keys(
        lsh_sig_bits(df, dim, bits, seed, id_col, vec_col),
        bits,
        bands,
        id_col,
        portable_keys=portable_keys,
    )
    w = Window.partitionBy("band_id", "band_hash")
    cand = (
        banded.withColumn("anchor", F.min("id").over(w))
        .filter(F.col("id") != F.col("anchor"))
        .select(F.col("anchor").alias("id_a"), F.col("id").alias("id_b"))
        .distinct()
    )
    nv = _normalized(df, id_col, vec_col)
    scored = (
        cand.join(
            nv.select(F.col("id").alias("id_a"), F.col("nvec").alias("nv_a")),
            "id_a",
        )
        .join(
            nv.select(F.col("id").alias("id_b"), F.col("nvec").alias("nv_b")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.round(dot(F.col("nv_a"), F.col("nv_b")), 4).alias("cosine"),
        )
    )
    return scored.filter(F.col("cosine") >= min_cosine).select(
        "id_a", "id_b", "cosine"
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ)
# ---------------------------------------------------------------------------


def pq_codebooks(
    df: DataFrame,
    m: int = 4,
    n_codes: int = 16,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Per-subspace PQ codebooks from a deterministic sample.

    The vector is split into ``m`` contiguous subvectors; each
    subspace gets ``n_codes`` centroids taken from the xxhash64-seeded
    sample (same sampling shape as :func:`sample_centroids`; swap in a
    per-subspace k-means fit for tighter cells).  Driver-side list —
    m × n_codes × (dim/m) floats ≡ one full codebook the size of
    ``n_codes`` vectors, broadcast-sized by construction.
    """
    rows = (
        df.select(
            F.col(vec_col).cast("array<double>").alias("v"),
            F.xxhash64(F.col(id_col), F.lit(seed)).alias("__h"),
        )
        .orderBy("__h")
        .limit(n_codes)
        .collect()
    )
    dim = len(rows[0].v)
    sub = dim // m
    return [
        [list(r.v[s * sub : (s + 1) * sub]) for r in rows] for s in range(m)
    ]


def pq_encode(
    df: DataFrame,
    books: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, sub, code): nearest-centroid code per subspace — the PQ
    compressed representation (m small ints per vector; at byte codes
    this is a 32× compression of a 64-float vector, which is what
    makes 100 TB-scale re-scoring RAM-resident).

    All m subspaces are encoded in ONE pass: each vector position
    belongs to exactly one subspace, so a single posexplode joined to
    a broadcast (pos → that subspace's n_codes centroid components)
    table and grouped by (id, sub) yields every sub-assignment with
    one scan and one shuffle — the previous per-subspace union of m
    assignment plans re-scanned the table m times (measured 3× at
    sf0.1).  Same argmin/tie semantics as :func:`ivf_assign`."""
    m = len(books)
    n_codes = len(books[0])
    sub = len(books[0][0])
    spark = df.sparkSession

    rows = []
    for s in range(m):
        for p in range(sub):
            rows.append(
                (s * sub + p, s, *[float(books[s][c][p]) for c in range(n_codes)])
            )
    cents = spark.createDataFrame(
        rows, ["pos", "sub", *[f"c{c}" for c in range(n_codes)]]
    )
    # The per-code aggregates and the argmin struct array are built as
    # SQL expr strings instead of per-term Column algebra (r15, the
    # eab7e52 SWAR precedent): the Column form cost ~280 py4j round
    # trips (~0.7 s of flat per-run driver time); the strings parse to
    # the IDENTICAL analyzed trees (canonical-tree pin in
    # tests/test_r15_opt.py).  Half-norm doubles are embedded via
    # repr() (exact round-trip) with a loud finiteness guard — a
    # NaN/Inf embedding would otherwise render as nanD/infD and fail
    # SQL parsing obscurely (ADVICE r14 class).
    import math

    half_sq_vals = [
        [sum(x * x for x in books[s][c]) / 2.0 for c in range(n_codes)]
        for s in range(m)
    ]
    for srow in half_sq_vals:
        for v in srow:
            if not math.isfinite(v):
                raise ValueError(
                    f"pq_encode: non-finite codebook half-norm {v!r} — "
                    "embeddings contain NaN/Inf"
                )
    half_sq_sql = "array({})".format(
        ",".join(
            "array({})".format(",".join(repr(v) + "D" for v in srow))
            for srow in half_sq_vals
        )
    )
    exploded = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "val"),
    )
    dots = (
        exploded.join(F.broadcast(cents), "pos")
        .groupBy("id", "sub")
        .agg(
            *[
                F.expr(f"sum(val * c{c})").alias(f"d{c}")
                for c in range(n_codes)
            ]
        )
    )
    scored = F.expr(
        "array({})".format(
            ",".join(
                f"struct((d{c} - element_at(element_at({half_sq_sql}, "
                f"cast(sub + 1 as int)), {c + 1})) as score, "
                f"{c} as cell)"
                for c in range(n_codes)
            )
        )
    )
    best = F.element_at(F.reverse(F.array_sort(scored)), 1)["cell"]
    return dots.select("id", "sub", best.alias("code"))


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    m: int = 4,
    n_codes: int = 16,
    rerank: int = 4,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k via PQ asymmetric-distance computation (ADC),
    exact-cosine re-rank of the short list.

    Per query, the dot product against ANY corpus vector is
    approximated from its codes by table lookup:
    ``dot(q, v) ≈ Σ_s lut[s][code_s(v)]`` where ``lut[s][c] =
    dot(q_s, book[s][c])`` — the LUT is m × n_codes scalars per
    query, built driver-side from the (bounded, broadcast-sized)
    query set and codebooks, then broadcast-joined to the code
    table.  The scan side therefore touches only (id, sub, code)
    ints, never the vectors; the exact re-rank reads full vectors
    for ``k·rerank`` candidates per query only.

    Returns (qid, vec_id, cos4, rnk) — same contract as
    :func:`cosine_topk`/:func:`ivf_topk`.  Rows-only driver check
    (codes are engine-specific); recall vs brute force is asserted in
    tests/test_similarity.py.
    """
    spark = corpus.sparkSession
    books = pq_codebooks(corpus, m, n_codes, seed, id_col, vec_col)
    codes = pq_encode(corpus, books, id_col, vec_col)

    sub = len(books[0][0])
    q_rows = queries.select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).collect()
    lut_rows = []
    for r in q_rows:
        for s in range(m):
            qs = r.v[s * sub : (s + 1) * sub]
            for c, cent in enumerate(books[s]):
                lut_rows.append(
                    (r.qid, s, c, float(sum(a * b for a, b in zip(qs, cent))))
                )
    lut = spark.createDataFrame(
        lut_rows, "qid long, sub int, code int, pdot double"
    )

    approx = (
        codes.join(F.broadcast(lut), ["sub", "code"])
        .groupBy("qid", "id")
        .agg(F.sum("pdot").alias("adc"))
        .filter(F.col("id") != F.col("qid"))
    )
    wa = W.partitionBy("qid").orderBy(F.desc("adc"), F.asc("id"))
    shortlist = (
        approx.withColumn("arnk", F.row_number().over(wa))
        .filter(F.col("arnk") <= k * rerank)
        .select("qid", "id")
    )

    cn = _normalized(corpus, id_col, vec_col)
    qn = _normalized(queries, id_col, vec_col).select(
        F.col("id").alias("qid"), F.col("nvec").alias("q_nvec")
    )
    scored = (
        shortlist.join(cn, "id")
        .join(F.broadcast(qn), "qid")
        .select(
            "qid",
            F.col("id").alias(id_col),
            F.round(dot(F.col("nvec"), F.col("q_nvec")), 6).alias("cos6"),
        )
    )
    w = W.partitionBy("qid").orderBy(F.desc("cos6"), F.asc(id_col))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("qid", id_col, F.round("cos6", 4).alias("cos4"), "rnk")
    )
