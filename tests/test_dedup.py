"""Dedup-operator tests: exact, MinHash-LSH, SimHash, Jaccard, and the
w08 leak-safe split that keeps exact duplicates on one side."""

from __future__ import annotations

import hashlib
from collections import defaultdict

import pandas as pd
import pytest
from pyspark.sql import functions as F

from kinesis_log_streamer_spark.operators import dedup as D
from kinesis_log_streamer_spark.plans import queries as Q

from conftest import SF_SMOKE

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat "
    "watches from the warm windowsill in the afternoon sun"
)
NEAR = BASE.replace("afternoon", "evening")
FAR = (
    "completely different content about database engines and shuffle "
    "partitioning strategies for large scale distributed joins"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [(0, BASE), (1, BASE), (2, NEAR), (3, FAR)]
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestExactDedup:
    def test_groups_identical_texts(self, spark, docs):
        out = {r.keeper: r.n_copies for r in D.exact_dedup(docs).collect()}
        assert out[0] == 2  # docs 0 and 1 identical, keeper = min id
        assert out[2] == 1 and out[3] == 1


class TestMinHashLSH:
    def test_finds_planted_near_dup(self, spark, docs):
        pairs = {
            (r.id_a, r.id_b): r.jaccard
            for r in D.minhash_dedup_pairs(docs, threshold=0.3).collect()
        }
        assert (0, 1) in pairs and pairs[(0, 1)] == 1.0  # identical
        assert (0, 2) in pairs and 0.5 < pairs[(0, 2)] < 1.0  # near-dup
        assert all(3 not in p for p in pairs)  # FAR never pairs

    def test_jaccard_self_similarity_is_one(self, spark, docs):
        sigs = D.minhash_signatures(docs)
        self_pairs = sigs.select(
            F.col("id").alias("id_a"), F.col("id").alias("id_b")
        )
        out = D.jaccard_verify(self_pairs, sigs, threshold=0.0)
        assert all(r.jaccard == 1.0 for r in out.collect())

    def test_signature_length(self, spark, docs):
        sig = D.minhash_signatures(docs, num_hashes=16).first().sig
        assert len(sig) == 16


class TestStarEdges:
    """portable_minhash_star_edges (r10): cluster-equivalent to the
    clique pair emitter, linear candidate volume."""

    def test_components_match_pair_build(self, spark, docs):
        from kinesis_log_streamer_spark.operators import graph as G

        by_pairs = {
            (r.doc_id, r.cluster_id)
            for r in G.dedup_clusters(
                D.portable_minhash_pairs(docs), docs
            ).collect()
        }
        by_star = {
            (r.doc_id, r.cluster_id)
            for r in G.dedup_clusters(
                D.portable_minhash_star_edges(docs), docs
            ).collect()
        }
        assert by_star == by_pairs

    def test_exact_replicas_collapse_linearly(self, spark):
        # 8 byte-identical replicas + 1 distinct doc: the exact
        # pre-pass must emit exactly k-1 = 7 replica edges (a clique
        # build would verify C(8,2) = 28 candidate pairs) and all of
        # them anchor at the min-id representative.
        base = "alpha beta gamma delta epsilon zeta eta theta iota"
        rows = [(i, base) for i in range(8)] + [
            (99, "totally unrelated words about storage engines here")
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        edges = D.portable_minhash_star_edges(df).collect()
        assert len(edges) == 7
        assert all(e.id_a == 0 and e.id_b in range(1, 8) for e in edges)

    def test_short_docs_stay_singletons(self, spark):
        # identical sub-shingle-length texts must NOT edge: the
        # eligibility filter runs before the exact collapse, matching
        # the pair emitter's banding filter.
        rows = [(1, "two words"), (2, "two words"), (3, "x")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        assert D.portable_minhash_star_edges(df).count() == 0


class TestSimhashStarEdges:
    """portable_simhash_star_edges (r13): cluster-equivalent to the
    pair emitter on duplicate-cluster corpora, candidate volume linear
    in the duplication factor."""

    def test_components_refine_pair_build(self, spark, docs):
        """On a GENERIC corpus the operator guarantees REFINEMENT, not
        equality: a bucket member whose hamming to the bucket's min-id
        rep exceeds max_hamming gets no star edge even though it pairs
        with another member, so a pair component may split into
        several star components (ADVICE r13 low #4 — the old equality
        assert held only by accident of this fixture).  Equality is
        pinned on the explicit duplicate-cluster corpus below, where
        every bucket member is hamming-0 from its rep."""
        from collections import defaultdict

        from kinesis_log_streamer_spark.operators import graph as G

        pair_of = {
            r.doc_id: r.cluster_id
            for r in G.dedup_clusters(
                D.portable_simhash_pairs(docs), docs
            ).collect()
        }
        star_of = {
            r.doc_id: r.cluster_id
            for r in G.dedup_clusters(
                D.portable_simhash_star_edges(docs), docs
            ).collect()
        }
        assert set(star_of) == set(pair_of)  # same doc universe
        members = defaultdict(list)
        for doc, cluster in star_of.items():
            members[cluster].append(doc)
        for cluster, ds in members.items():
            assert len({pair_of[d] for d in ds}) == 1, (
                f"star cluster {cluster} spans pair clusters"
            )

    def test_components_equal_on_duplicate_cluster_corpus(self, spark):
        """Replica cliques + distinct singletons: every clique member
        shares its rep's signature (hamming 0), so the star build is
        PROVABLY identical to the pair build here — the corpus where
        equality is the contract, not a fixture accident."""
        from kinesis_log_streamer_spark.operators import graph as G

        texts = [
            "alpha beta gamma delta epsilon zeta eta theta iota",
            "storage engines compress columnar stripes with encodings",
            "the quick brown fox jumps over the lazy dog tonight",
        ]
        rows = [
            (10 * t + k, text)
            for t, text in enumerate(texts)
            for k in range(4)
        ] + [
            (100, "completely different words about sailing ships"),
            (101, "unrelated text mentioning orbital mechanics and fuel"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        by_pairs = {
            (r.doc_id, r.cluster_id)
            for r in G.dedup_clusters(D.portable_simhash_pairs(df), df).collect()
        }
        by_star = {
            (r.doc_id, r.cluster_id)
            for r in G.dedup_clusters(
                D.portable_simhash_star_edges(df), df
            ).collect()
        }
        assert by_star == by_pairs

    def test_sig_replicas_collapse_linearly(self, spark):
        # 8 identical-text replicas share one signature: the sig
        # collapse must emit exactly k-1 = 7 hamming-0 star edges
        # anchored at the min id (the pair emitter would verify
        # C(8,2) = 28), and only ONE representative may enter banding.
        base = "alpha beta gamma delta epsilon zeta eta theta iota"
        rows = [(i, base) for i in range(8)] + [
            (99, "totally unrelated words about storage engines here")
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        edges = D.portable_simhash_star_edges(df).collect()
        exact = [e for e in edges if e.hamming == 0]
        assert len(exact) == 7
        assert all(e.id_a == 0 and e.id_b in range(1, 8) for e in exact)
        # doc 99's signature is far from the replicas': no near edges.
        assert all(e.id_b != 99 for e in edges)

    def test_near_edges_are_bucket_stars(self, spark, docs):
        # every near edge must verify hamming in (0, max] and anchor
        # at an id smaller than its member; exact edges are hamming 0.
        edges = D.portable_simhash_star_edges(docs, max_hamming=16).collect()
        assert all(e.id_a < e.id_b for e in edges)
        assert all(0 <= e.hamming <= 16 for e in edges)

    def test_star_graph_is_subset_of_pair_graph(self, spark):
        # Structural invariant (provable, so pinned): every star edge
        # verifies hamming <= max, and two docs within hamming <= 3
        # always share a pigeonhole chunk — so the star edge SET is a
        # subgraph of the pair emitter's near-dup relation, and star
        # components refine pair components on ANY corpus (equality
        # holds on duplicate clusters, the oracle-gated case).
        base = "the quick brown fox jumps over the lazy dog today"
        rows = [(i, base) for i in range(3)] + [
            (10, base + " extra"),
            (11, base + " extra words"),
            (20, "completely different text about engines and planes"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        pair_set = {
            (r.id_a, r.id_b)
            for r in D.portable_simhash_pairs(df, max_hamming=3).collect()
        }
        star = D.portable_simhash_star_edges(df, max_hamming=3).collect()
        assert star, "expected edges on the replica corpus"
        assert {(e.id_a, e.id_b) for e in star} <= pair_set


class TestSimHash:
    def test_identical_texts_same_hash(self, spark, docs):
        sh = docs.select("doc_id", D.simhash64("text").alias("h")).collect()
        by_id = {r.doc_id: r.h for r in sh}
        assert by_id[0] == by_id[1]

    def test_near_dup_within_hamming(self, spark, docs):
        pairs = {
            (r.id_a, r.id_b): r.hamming
            for r in D.simhash_pairs(docs, max_hamming=16).collect()
        }
        assert pairs.get((0, 1)) == 0
        assert (0, 2) in pairs and pairs[(0, 2)] <= 16


class TestShingles:
    def test_shingle_construction(self, spark):
        df = spark.createDataFrame([("a b c d",)], "text string")
        sh = df.select(
            D.shingles_col(D.tokens_col(F.col("text")), 3).alias("s")
        ).first().s
        assert sh == ["a b c", "b c d"]

    def test_short_text_no_shingles(self, spark):
        df = spark.createDataFrame([("a b",)], "text string")
        sh = df.select(
            D.shingles_col(D.tokens_col(F.col("text")), 3).alias("s")
        ).first().s
        assert sh == []


class TestPortableLshLaneGuard:
    def test_overwide_band_config_rejected(self, spark):
        """dedup.py's lane-width guard (r5): n_bands*rows_per_band
        beyond the 32 md5 hex chars would make every lane substring
        empty and the candidate join O(n^2) — pin the refusal AND its
        message so the guard can't silently regress."""
        import pytest as _pytest

        from kinesis_log_streamer_spark.operators import dedup as D

        df = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
        with _pytest.raises(ValueError, match=r"exceeds.*32 hex chars"):
            D.portable_minhash_pairs(
                df, n_bands=8, rows_per_band=5
            )

    def test_widest_legal_config_accepted(self, spark):
        from kinesis_log_streamer_spark.operators import dedup as D

        df = spark.createDataFrame(
            [(1, "a b c d e f"), (2, "a b c d e f")],
            "doc_id long, text string",
        )
        # 8 * 4 = 32 -> lane width 1: legal boundary
        out = D.portable_minhash_pairs(df, n_bands=8, rows_per_band=4)
        assert {(r.id_a, r.id_b) for r in out.collect()} == {(1, 2)}


class TestPPJoinSkew:
    """d20's docstring documents rarest-first prefix ordering as the
    boilerplate-corpus escape hatch (VERDICT r7 #7): same lemma, same
    verified pair set, bounded prefix buckets where the lexicographic
    order's smallest shingles are exactly the corpus-wide hot ones.
    This fixture MAKES them hot: every doc opens with the same
    lexicographically-small boilerplate block."""

    def _docs(self, spark):
        # 15 near-dup pairs: twins share a tail, one differs by a
        # single final token; all docs share a 12-token boilerplate
        # preamble whose tokens sort lexicographically FIRST.
        boiler = " ".join(f"aa{c}" for c in "bcdefghijklm")
        rows = []
        for i in range(15):
            tail = " ".join(f"zz{i}w{j}" for j in range(8))
            rows.append((2 * i, f"{boiler} {tail} zzend{i}"))
            rows.append((2 * i + 1, f"{boiler} {tail} zzalt{i}"))
        return rows, spark.createDataFrame(rows, "doc_id long, text string")

    def _truth(self, rows, t=0.6, n=3):
        def sh(text):
            tok = text.lower().split()
            return {" ".join(tok[i:i + n]) for i in range(len(tok) - n + 1)}
        sets = {i: sh(x) for i, x in rows}
        out = set()
        ids = sorted(sets)
        for ai in range(len(ids)):
            for bi in range(ai + 1, len(ids)):
                a, b = ids[ai], ids[bi]
                j = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
                if j >= t:
                    out.add((a, b))
        return out

    def test_rarest_first_same_pairs_bounded_buckets(self, spark):
        rows, docs = self._docs(spark)
        truth = self._truth(rows)
        assert truth, "fixture must contain true near-dup pairs"
        got = {}
        for rarest in (False, True):
            got[rarest] = {
                (r.id_a, r.id_b)
                for r in D.ppjoin_pairs(
                    docs, threshold=0.6, rarest_first=rarest
                ).collect()
            }
        # Same exact pair set under both comparators, equal to truth.
        assert got[False] == truth
        assert got[True] == truth

        # The measurable skew claim: boilerplate makes lexicographic
        # prefix buckets corpus-sized; rarest-first keeps them bounded.
        tok = D.tokens_col(F.col("text"))
        sh = docs.filter(F.size(tok) >= 3).select(
            F.col("doc_id").alias("id"),
            F.array_sort(
                F.array_distinct(D.shingles_col(tok, 3))
            ).alias("sh"),
        )
        def max_bucket(rarest):
            return (
                D.ppjoin_prefix_table(sh, 0.6, rarest)
                .groupBy("s")
                .count()
                .agg(F.max("count"))
                .first()[0]
            )
        lex_max, rare_max = max_bucket(False), max_bucket(True)
        assert lex_max == 30, f"fixture not skewed as designed: {lex_max}"
        assert rare_max <= 4, (
            f"rarest-first bucket not bounded: {rare_max} (lex {lex_max})"
        )


class TestWinnowing:
    """winnowing_fingerprints (Schleimer et al. 2003): the selection
    guarantee and the density bound that make it a fingerprint INDEX
    rather than a sample."""

    K, W = 4, 5

    def _fps(self, spark, texts):
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        rows = D.winnowing_fingerprints(
            df, k=self.K, window=self.W
        ).collect()
        out: dict[int, set] = {}
        for r in rows:
            out.setdefault(r.id, set()).add(r.fp)
        return out

    def test_guarantee_shared_run_shares_fingerprint(self, spark):
        # Any shared token run of >= window + k - 1 = 8 tokens MUST
        # contribute at least one common fingerprint — the winnowing
        # theorem. The shared run is embedded at different offsets
        # inside otherwise-disjoint documents.
        shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 toks
        a = "one two three " + shared + " four five"
        b = "uno dos " + shared + " tres cuatro cinco seis"
        fps = self._fps(spark, [a, b])
        assert fps[0] & fps[1], "shared 8-token run produced no common fp"

    def test_identical_docs_identical_sets(self, spark):
        t = "the quick brown fox jumps over the lazy dog again and again"
        fps = self._fps(spark, [t, t])
        assert fps[0] == fps[1]

    def test_density_bound(self, spark):
        # Winnowing selects ~2/(w+1) of gram hashes; assert the hard
        # upper bound (every window picks at most one NEW fp, and
        # consecutive windows usually share their min): n_fp <=
        # n_windows, and well below n_grams on a long random-ish doc.
        words = " ".join(f"w{(i * 7919) % 101}" for i in range(200))
        df = spark.createDataFrame([(0, words)], "doc_id long, text string")
        rows = D.winnowing_fingerprints(df, k=self.K, window=self.W).collect()
        n_grams = rows[0].n_grams
        n_windows = len(rows)
        n_fp = len({r.fp for r in rows})
        assert n_windows == n_grams - (self.W - 1)
        # expected density 2/(w+1) = 1/3; allow generous slack
        assert n_fp <= n_windows // 2, (n_fp, n_windows)

    def test_short_doc_no_rows(self, spark):
        # < k + window - 1 tokens: no full window exists
        fps = self._fps(spark, ["only six words right here now"])
        assert fps == {}


class TestSwarLaneGuard:
    """The 16-bit SWAR lanes of both SimHash signature builders carry
    (not saturate) at 65,536 contributing tokens per document,
    corrupting an unrelated bit — so both builders must FAIL LOUDLY on
    such a document instead of fingerprinting it wrong (ADVICE r13
    low #1)."""

    def _big_doc(self, spark, n=65536):
        text = " ".join(f"tok{i}" for i in range(n))
        return spark.createDataFrame([(1, text)], "doc_id long, text string")

    # End-to-end, one of TWO loud failures fires first: ANSI mode
    # (Spark 4 default) usually catches the top lane's sum overflowing
    # the long inside the partial aggregate (n·2^48 ≥ 2^63), and the
    # _lane_guard assert_true catches every remaining n ≥ 2^16 case in
    # the final projection.  Either way: an error, never a corrupted
    # signature.
    def test_xxhash_fingerprints_fail_loudly(self, spark):
        with pytest.raises(Exception, match="65536|ARITHMETIC_OVERFLOW"):
            D.simhash_fingerprints(self._big_doc(spark)).collect()

    def test_portable_sigs_fail_loudly(self, spark):
        with pytest.raises(Exception, match="65536|ARITHMETIC_OVERFLOW"):
            D._portable_simhash_sigs(
                self._big_doc(spark), "text", "doc_id"
            ).collect()

    def test_lane_guard_column_fires_deterministically(self, spark):
        # The guard itself (not ANSI): a counters row that slipped past
        # the sums with n >= 2^16 must raise with the guard's message.
        df = spark.createDataFrame([(70000, 5)], "n long, sig long")
        with pytest.raises(Exception, match="65536"):
            df.select(D._lane_guard(F.col("sig"))).collect()

    def test_lane_guard_passes_in_bound_rows(self, spark):
        df = spark.createDataFrame([(65535, 5)], "n long, sig long")
        assert df.select(D._lane_guard(F.col("sig")).alias("s")).first().s == 5

    def test_in_bound_doc_passes_guard(self, spark):
        # 1000 distinct tokens: far inside the lane bound, the guard
        # must be invisible (one signature row out).
        assert D.simhash_fingerprints(self._big_doc(spark, 1000)).count() == 1


def _pq(name: str) -> pd.DataFrame:
    return pd.read_parquet(f"{SF_SMOKE}/{name}.parquet")


def _md5(s: str) -> str:
    return hashlib.md5(s.encode("utf-8")).hexdigest()


class TestLeakSafeSplit:
    def _assign(self) -> dict[int, str]:
        docs = _pq("documents")
        keeper: dict[str, int] = {}
        fps = {}
        for r in docs.itertuples():
            fp = _md5(r.text)
            fps[int(r.doc_id)] = fp
            keeper[fp] = min(keeper.get(fp, int(r.doc_id)), int(r.doc_id))
        return {
            did: (
                "train"
                if _md5(f"split:{keeper[fp]}")[:2] < "cc"
                else "val"
            )
            for did, fp in fps.items()
        }

    def test_counts_match_hashlib_recompute(self, spark):
        asg = self._assign()
        row = Q.w08_leak_safe_split(spark, SF_SMOKE).collect()[0]
        n_train = sum(1 for s in asg.values() if s == "train")
        assert row.n_docs == len(asg)
        assert row.n_train == n_train
        assert row.n_val == len(asg) - n_train
        assert row.train_pm == n_train * 1000 // len(asg)

    def test_invariants(self, spark):
        row = Q.w08_leak_safe_split(spark, SF_SMOKE).collect()[0]
        # exact-dup groups can never straddle by construction
        assert row.exact_leak == 0
        assert row.n_train + row.n_val == row.n_docs
        # near-dup telemetry is bounded by its truth set
        assert 0 <= row.cohort_leak <= row.n_true_pairs
        # the hash split should land in a sane band around 80 %
        assert 600 <= row.train_pm <= 950

    def test_exact_dups_co_assigned(self, spark):
        # every duplicated text's members share one split by the
        # keeper rule — recomputed here directly.
        docs = _pq("documents")
        asg = self._assign()
        by_fp = defaultdict(set)
        for r in docs.itertuples():
            by_fp[_md5(r.text)].add(asg[int(r.doc_id)])
        assert all(len(s) == 1 for s in by_fp.values())
