"""Concurrent query execution on one SparkSession.

A production engine is hammered by parallel clients; Spark sessions
are thread-safe by contract, but OUR query functions also touch
session-shared state (temp views, session confs, temp dirs).  This
pins that concurrently-driven registry queries neither interfere nor
produce different results than a serial run."""

from __future__ import annotations

import threading

from kinesis_log_streamer_spark.plans import queries as Q

SF = "/root/testdata/sf0.001"

# Queries chosen to overlap on shared mechanisms: temp views (q62),
# session confs (q65 sets/restores), temp dirs (f03), plain scans.
NAMES = [
    "q01_pricing_summary",
    "q62_correlated_scalar_subquery",
    "q65_bloom_filter_join",
    "f03_orc_roundtrip",
]


class TestConcurrentQueries:
    def test_parallel_matches_serial(self, spark):
        serial = {
            n: [tuple(r) for r in Q.REGISTRY[n](spark, SF).collect()]
            for n in NAMES
        }
        results: dict[str, list] = {}
        errors: list[Exception] = []

        def run(name: str) -> None:
            try:
                results[name] = [
                    tuple(r) for r in Q.REGISTRY[name](spark, SF).collect()
                ]
            except Exception as e:  # noqa: BLE001
                errors.append(e)

        for _ in range(2):  # two wave repetitions
            threads = [
                threading.Thread(target=run, args=(n,)) for n in NAMES
            ]
            for t in threads:
                t.start()
            for t in threads:
                t.join()
            assert not errors, errors
            for n in NAMES:
                assert results[n] == serial[n], n


class TestConcurrentScratchDirs:
    def test_st09_in_two_threads_matches_serial(self, spark):
        """Two threads draining st09 at once must each get their own
        source, checkpoint and output dirs."""
        name = "st09_checkpoint_resume"
        serial = [tuple(r) for r in Q.REGISTRY[name](spark, SF).collect()]
        results: list[list] = [None, None]
        errors: list[Exception] = []

        def run(i: int) -> None:
            try:
                results[i] = [
                    tuple(r) for r in Q.REGISTRY[name](spark, SF).collect()
                ]
            except Exception as e:  # noqa: BLE001
                errors.append(e)

        threads = [threading.Thread(target=run, args=(i,)) for i in (0, 1)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=900)
            assert not t.is_alive()
        assert not errors, errors
        assert results == [serial, serial]


class TestConcurrentSpoolPipelines:
    """End-to-end pin of the ADVICE r11 race fix: two spool-staging
    pipelines running simultaneously must neither interfere (their
    fixture dirs are per-thread ``_scratch`` dirs; the shared sweeper
    tolerates vanished paths) nor change their answers vs serial."""

    NAMES = ["l20_ingest_rollup_pipeline", "l21_errorlog_pipeline"]

    def test_parallel_matches_serial(self, spark):
        serial = {
            n: [tuple(r) for r in Q.REGISTRY[n](spark, SF).collect()]
            for n in self.NAMES
        }
        results: dict[str, list] = {}
        errors: list[Exception] = []

        def run(name: str) -> None:
            try:
                results[name] = [
                    tuple(r)
                    for r in Q.REGISTRY[name](spark, SF).collect()
                ]
            except Exception as e:  # noqa: BLE001
                errors.append(e)

        threads = [
            threading.Thread(target=run, args=(n,)) for n in self.NAMES
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert not errors, errors
        assert results == serial
