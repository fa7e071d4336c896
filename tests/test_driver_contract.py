"""Driver-contract guard: the external driver runs `__spark_entry__`
on a BARE SparkSession (none of `session.py:get_spark`'s confs), so
every query must self-carry its session requirements (UTC timezone,
parquet timestamp handling, Arrow for pandas UDFs).

Round-2 regression this guards: the generated events.parquet switched
timestamp encodings between rounds (TIMESTAMP(NANOS) → native micros,
which Spark 4.1 infers as TIMESTAMP_NTZ on a default session) and
five streaming queries silently collapsed before the loaders learned
to probe and coerce.  The bare session runs in a SUBPROCESS so the
tuned test session's JVM confs can't leak into it.
"""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_BARE_SCRIPT = r"""
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
from pyspark.sql import types as T

spark = SparkSession.builder.master("local[8]").getOrCreate()

import __spark_entry__ as entry
from kinesis_log_streamer_spark.plans import queries as Q

SF = "/root/testdata/sf0.001"

assert len(entry.entry(spark).collect()) > 0, "entry() empty on bare session"

# Events timestamps must load as LTZ (epoch-comparable) even on a
# default session — the exact failure mode of the encoding drift.
ev = Q._t(spark, SF, "events")
assert isinstance(ev.schema["ts"].dataType, T.TimestampType), ev.schema["ts"]

for name in (
    "q24_tumbling_window",        # timestamp window over events
    "q25_sessionize",             # epoch cast over event time
    "st01_stream_window_counts",  # streaming replay fixture
    "u04_grouped_map_zscore",     # Arrow / pandas path
    "q64_hll_partial_union",      # Datasketches HLL exprs
    "q79_collation_group",        # Spark 4 collation
    "f13_variant_shred",          # VARIANT type
    "q83_native_dynamic_session", # dynamic session_window
    "u06_arrow_scalar_udf",       # useArrow UDF transport
    "st15_state_across_restarts", # applyInPandasWithState x3 restarts
    "q121_transpose",             # Spark 4 DataFrame.transpose
    "q123_lateral_join_api",      # Spark 4 lateralJoin + outer()
    "q124_argminmax_battery",     # max_by/min_by/mode aggregates
    "q130_listagg",               # listagg ... within group (r5)
    "q131_time_grid_fill",        # sequence/explode + ignoreNulls (r5)
    "i07_stdin_spool_pipeline",   # spool landing scan (r5)
    "f24_avro_roundtrip",         # JSON codec over a binary wire column
    "st17_statestore_reader",     # statestore format read-back (r7)
    "q135_approx_top_k",          # approx_top_k SQL function (r7)
    "t27_bm25_topk",              # createDataFrame probe table (r7)
    "s19_mmr_rerank",             # bounded driver rerank (r7)
    "d24_simhash_star_edges",     # localCheckpoint lineage cut (r13)
    "k08_aws_transport_roundtrip",  # moto server + real boto3 (r13)
    "m08_ppm_decode_stats",       # real PPM decode, binary UDF (r13)
    "m09_wav_decode_stats",       # real RIFF walk, binary UDF (r13)
):
    n = Q.REGISTRY[name](spark, SF).count()
    assert n > 0, f"{{name}} returned 0 rows on bare session"
    print(name, n, flush=True)
print("BARE_OK")
"""


class TestBareSessionContract:
    def test_driver_slice_on_bare_session(self):
        proc = subprocess.run(
            [sys.executable, "-c", _BARE_SCRIPT.format(repo=REPO)],
            capture_output=True,
            text=True,
            timeout=600,
            cwd=REPO,
        )
        assert proc.returncode == 0, proc.stderr[-3000:]
        assert "BARE_OK" in proc.stdout

    def test_registry_and_oracles_align(self):
        sys.path.insert(0, REPO)
        import __spark_entry__ as entry

        qs = entry.queries()
        os_ = entry.oracle_sql()
        assert set(os_) <= set(qs)
        # r07: the last four rows-only queries (q28/d02/d03/t03) were
        # re-shaped to gate queries with real oracles — every registry
        # query now carries an oracle entry.
        rows_only = sorted(set(qs) - set(os_))
        assert rows_only == [], rows_only


class TestRegistryOrder:
    """The driver verifies only the first 50 registry entries; the
    registry is one family-ordered literal with ``_FRONT`` in front."""

    # Queries whose code changed after their latest driver verdict.
    CHANGED = (
        "l09_rolling_anomaly", "t22_ngram_novelty", "d02_minhash_pairs",
        "s08_pq_topk", "t27_bm25_topk", "s21_ivf_maxsim_rerank",
        "s09_kmeans", "i05_concat_json_decode", "i07_stdin_spool_pipeline",
        "i08_live_spool_stream", "l20_ingest_rollup_pipeline",
        "l21_errorlog_pipeline",
    )

    def test_front_leads_the_registry(self):
        from kinesis_log_streamer_spark.plans import queries as Q

        assert list(Q.REGISTRY)[:50] == Q._FRONT

    def test_front_is_50_unique_registered_names(self):
        from kinesis_log_streamer_spark.plans import queries as Q

        assert len(Q._FRONT) == len(set(Q._FRONT)) == 50
        assert set(Q._FRONT) <= set(Q._BY_FAMILY)
        assert len(Q.REGISTRY) == len(Q._BY_FAMILY) == 336

    def test_front_holds_the_changed_queries(self):
        from kinesis_log_streamer_spark.plans import queries as Q

        assert set(self.CHANGED) <= set(Q._FRONT)

    def test_entry_queries_bind_registry_functions(self):
        sys.path.insert(0, REPO)
        import __spark_entry__ as entry
        from kinesis_log_streamer_spark.plans import queries as Q

        qs = entry.queries()
        assert list(qs) == list(Q.REGISTRY)
        assert all(qs[n] is Q.REGISTRY[n] for n in Q.REGISTRY)
        assert all(f.__name__ == n for n, f in qs.items())


def test_bench_headline_names_all_registered():
    """Every bench HEADLINE member must exist in the registry AND have
    a DuckDB oracle — a typo here would crash the driver's bench run,
    so catch it in pytest instead."""
    import bench
    from kinesis_log_streamer_spark.plans import oracles as O
    from kinesis_log_streamer_spark.plans import queries as Q

    missing = [n for n in bench.HEADLINE if n not in Q.REGISTRY]
    assert not missing, f"HEADLINE names absent from REGISTRY: {missing}"
    no_oracle = [n for n in bench.HEADLINE if n not in O.ORACLES]
    assert not no_oracle, f"HEADLINE names without oracles: {no_oracle}"
    assert len(bench.HEADLINE) == len(set(bench.HEADLINE))
