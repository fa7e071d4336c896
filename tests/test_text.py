"""Text-analysis operator tests."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from kinesis_log_streamer_spark.operators import text as TX
from kinesis_log_streamer_spark.plans import queries as Q


class TestTokenCounters:
    def test_counts_on_known_string(self, spark):
        df = spark.createDataFrame(
            [(0, "Hello, world! This is the test.")], "doc_id long, text string"
        )
        row = TX.quality_features(df).first()
        assert row.n_ws_tokens == 6
        # words: Hello world This is the test (6) + punct , ! . (3)
        assert row.n_bpe_tokens == 9
        assert row.n_chars == 31

    def test_punct_ratio(self, spark):
        df = spark.createDataFrame([(0, "a.b.c")], "doc_id long, text string")
        assert TX.quality_features(df).first().punct_ratio == 0.4


class TestLangId:
    def test_english_text_scores_en(self, spark):
        df = spark.createDataFrame(
            [(0, "the cat and the dog in a house of wonders is it that for")],
            "doc_id long, text string",
        )
        row = TX.langid(df).first()
        assert row.pred_lang == "en"

    def test_spanish_text_scores_es(self, spark):
        df = spark.createDataFrame(
            [(0, "el perro y la casa de que los gatos se van del pueblo en un dia")],
            "doc_id long, text string",
        )
        assert TX.langid(df).first().pred_lang == "es"


class TestFingerprint:
    def test_identical_texts_same_fingerprints(self, spark):
        df = spark.createDataFrame(
            [(0, "same text here"), (1, "same text here"), (2, "other")],
            "doc_id long, text string",
        )
        rows = {r.doc_id: (r.fp_md5, r.fp_roll) for r in TX.fingerprint(df).collect()}
        assert rows[0] == rows[1]
        assert rows[0] != rows[2]

    def test_rolling_hash_order_sensitive(self, spark):
        df = spark.createDataFrame(
            [(0, "a b c"), (1, "c b a")], "doc_id long, text string"
        )
        rows = {r.doc_id: r.fp_roll for r in TX.fingerprint(df).collect()}
        assert rows[0] != rows[1]


class TestNgrams:
    def test_bigrams(self, spark):
        from pyspark.sql import functions as F

        df = spark.createDataFrame([("A b c d",)], "text string")
        row = df.select(TX.ngrams_col(F.col("text"), 2).alias("g")).first()
        assert row.g == ["a b", "b c", "c d"]

    def test_trigrams_and_short_doc(self, spark):
        from pyspark.sql import functions as F

        df = spark.createDataFrame([("a b c",), ("a",)], "text string")
        rows = [
            r.g
            for r in df.select(TX.ngrams_col(F.col("text"), 3).alias("g")).collect()
        ]
        assert rows == [["a b c"], []]


class TestTfidf:
    def test_scores_match_formula(self, spark):
        import math

        # 3 docs; "rare" appears in 1, "common" in all 3.
        df = spark.createDataFrame(
            [
                (0, "common rare"),
                (1, "common common"),
                (2, "common"),
            ],
            "doc_id long, text string",
        )
        rows = {
            (r.doc_id, r.term): r for r in TX.tfidf(df).collect()
        }
        idf = lambda d: math.log(4.0 / (d + 1)) + 1.0  # N=3, smoothed
        assert rows[(0, "rare")].df == 1
        assert rows[(0, "rare")].tfidf == pytest.approx(1 * idf(1))
        assert rows[(1, "common")].tf == 2
        assert rows[(1, "common")].tfidf == pytest.approx(2 * idf(3))

    def test_df_counts_docs_not_occurrences(self, spark):
        df = spark.createDataFrame(
            [(0, "x x x"), (1, "x")], "doc_id long, text string"
        )
        r = {(r.doc_id, r.term): r for r in TX.tfidf(df).collect()}
        assert r[(0, "x")].df == 2  # 2 docs, not 4 occurrences


class TestUnigramEntropy:
    def test_known_values(self, spark, tmp_path):
        from kinesis_log_streamer_spark.plans.queries import (
            t16_unigram_entropy,
        )

        # uniform over 4 tokens -> H = 2; constant -> H = 0
        import os

        base = str(tmp_path)
        df = spark.createDataFrame(
            [
                (0, "a b c d", "en", "s", 7),
                (1, "a a a a", "en", "s", 7),
            ],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
        df.write.mode("overwrite").parquet(
            os.path.join(base, "documents.parquet")
        )
        rows = {r.doc_id: r for r in t16_unigram_entropy(spark, base).collect()}
        assert rows[0].entropy == pytest.approx(2.0)
        assert rows[1].entropy == pytest.approx(0.0)
        assert rows[0].n_tokens == 4


class TestContainmentPairs:
    def test_subset_doc_fully_contained(self, spark, tmp_path):
        from kinesis_log_streamer_spark.plans.queries import (
            d07_containment_pairs,
        )

        import os

        base = str(tmp_path)
        # doc 10's tokens are a strict subset of doc 20's; doc 30 disjoint.
        df = spark.createDataFrame(
            [
                (10, "alpha beta", "en", "s", 10),
                (20, "alpha beta gamma delta", "en", "s", 22),
                (30, "omega psi chi", "en", "s", 13),
            ],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
        df.write.mode("overwrite").parquet(
            os.path.join(base, "documents.parquet")
        )
        got = {
            (r.id_a, r.id_b): r.contain_pm
            for r in d07_containment_pairs(spark, base).collect()
        }
        assert got[(10, 20)] == 1000  # fully contained
        assert (20, 10) not in got  # only 2/4 of doc 20 in doc 10
        assert all(a != 30 and b != 30 for a, b in got)


class TestT27Bm25:
    def _write_docs(self, spark, tmp_path, rows):
        path = str(tmp_path / "documents.parquet")
        spark.createDataFrame(
            [(i, t, "en", "unit", len(t)) for i, t in rows],
            "doc_id long, text string, lang string, source string,"
            " n_chars long",
        ).coalesce(1).write.mode("overwrite").parquet(path)
        return str(tmp_path)

    @staticmethod
    def _bm25(tf, df, n, dl, avgdl, k1=1.2, b=0.75):
        idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
        return idf * tf * (k1 + 1.0) / (
            tf + k1 * (1.0 - b + b * dl / avgdl)
        )

    def test_scores_match_formula(self, spark, tmp_path):
        # q1 probes (spark, join, table).  doc 10 matches all three,
        # doc 11 repeats one term, doc 12 matches nothing.
        docs = [
            (10, "spark join table"),
            (11, "spark spark spark filter"),
            (12, "other words entirely here"),
        ]
        sf = self._write_docs(spark, tmp_path, docs)
        out = {
            (r.qid, r.doc_id): r
            for r in Q.t27_bm25_topk(spark, sf).collect()
        }
        n, avgdl = 3, (3 + 4 + 4) / 3.0
        want10 = (
            self._bm25(1, 2, n, 3, avgdl)      # spark, df=2
            + self._bm25(1, 1, n, 3, avgdl)    # join
            + self._bm25(1, 1, n, 3, avgdl)    # table
        )
        want11 = self._bm25(3, 2, n, 4, avgdl)  # spark x3 only
        assert out[("q1", 10)].score == pytest.approx(want10, abs=1e-3)
        assert out[("q1", 10)].n_terms == 3
        assert out[("q1", 11)].score == pytest.approx(want11, abs=1e-3)
        assert out[("q1", 11)].n_terms == 1
        assert ("q1", 12) not in out
        # saturating tf + all-terms coverage must outrank repetition
        assert out[("q1", 10)].rnk == 1 and out[("q1", 11)].rnk == 2

    def test_topk_shape_on_corpus(self, spark, sf_dir):
        rows = Q.t27_bm25_topk(spark, sf_dir).collect()
        by_q: dict[str, list] = {}
        for r in rows:
            by_q.setdefault(r.qid, []).append(r)
        for qid, rs in by_q.items():
            assert [r.rnk for r in rs] == list(range(1, len(rs) + 1))
            scores = [r.score for r in rs]
            assert scores == sorted(scores, reverse=True), qid
            assert all(1 <= r.n_terms <= 3 for r in rs)
