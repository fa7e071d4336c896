"""The session cache (``session.CACHE``): one get-or-build cache for the
plans and artifacts derived from input files, keyed by application id
and rebuilt when a source file changes.  Also pins the per-application
fixture paths of the file-format round-trip queries."""

from __future__ import annotations

import os
import shutil
import tempfile
from types import SimpleNamespace

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from kinesis_log_streamer_spark.session import CACHE, SessionCache


def _fake_spark(app: str):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app))


class TestSessionCacheUnit:
    def test_hit_until_a_source_file_changes(self, tmp_path):
        cache = SessionCache()
        src = tmp_path / "t.parquet"
        src.write_text("v1")
        builds = []

        def build():
            builds.append(1)
            return object()

        spark = _fake_spark("app-1")
        first = cache.get(spark, "k", build, (str(src),))
        assert cache.get(spark, "k", build, (str(src),)) is first
        st = os.stat(src)
        os.utime(src, ns=(st.st_atime_ns, st.st_mtime_ns + 1))
        assert cache.get(spark, "k", build, (str(src),)) is not first
        src.unlink()
        cache.get(spark, "k", build, (str(src),))
        assert len(builds) == 3

    def test_entries_are_per_application(self):
        cache = SessionCache()
        a, b = _fake_spark("app-a"), _fake_spark("app-b")
        va = cache.get(a, "k", object)
        assert cache.get(a, "k", object) is va
        vb = cache.get(b, "k", object)
        assert vb is not va
        # Inserting for app-b dropped app-a's entry.
        assert cache.get(a, "k", object) is not va

    def test_clear_forces_a_rebuild(self):
        cache = SessionCache()
        spark = _fake_spark("app-1")
        v = cache.get(spark, "k", object)
        cache.clear()
        assert cache.get(spark, "k", object) is not v


class TestCacheUsers:
    def test_load_table_sees_a_rewritten_table(self, spark, tmp_path):
        from kinesis_log_streamer_spark.sources.tables import load_table

        path = tmp_path / "nation.parquet"
        pq.write_table(pa.table({"n": [1, 2, 3]}), path)
        df = load_table(spark, str(tmp_path), "nation")
        assert sorted(r.n for r in df.collect()) == [1, 2, 3]
        # Regenerated with other rows and a new column.
        pq.write_table(pa.table({"n": [7, 8], "m": ["x", "y"]}), path)
        df = load_table(spark, str(tmp_path), "nation")
        assert sorted(tuple(r) for r in df.select("n", "m").collect()) == [
            (7, "x"),
            (8, "y"),
        ]

    def test_slice_path_hits_within_a_session(self, spark, sf_dir, tmp_path):
        from kinesis_log_streamer_spark.plans import queries as Q

        alias = tmp_path / "alias"
        alias.symlink_to(sf_dir)
        ev = Q._t(spark, sf_dir, "events")
        assert Q._t(spark, sf_dir, "events") is ev
        assert Q._t(spark, str(alias), "events") is ev
        acc = Q._access(spark, sf_dir)
        assert Q._access(spark, sf_dir) is acc
        assert Q._access(spark, str(alias)) is acc

    def test_clear_rebuilds_every_user(self, spark, sf_dir):
        from kinesis_log_streamer_spark.operators import similarity as S
        from kinesis_log_streamer_spark.plans import queries as Q

        users = {
            "table": lambda: Q._t(spark, sf_dir, "documents"),
            "planes": lambda: S._planes_df(spark, 8, 4, 42),
            "simhash_fp": lambda: Q._simhash_fp_index(spark, sf_dir),
            "cohort_truth": lambda: Q._cohort_truth_pairs(spark, sf_dir),
            "ivf_prep": lambda: Q._ivf_prepared(spark, sf_dir),
            "access": lambda: Q._access(spark, sf_dir),
        }
        before = {k: f() for k, f in users.items()}
        for k, f in users.items():
            assert f() is before[k], k
        CACHE.clear()
        for k, f in users.items():
            assert f() is not before[k], k

    def test_clear_restages_the_flush_fixture(self, spark, sf_dir, monkeypatch):
        from kinesis_log_streamer_spark.plans import queries as Q

        staged = []
        write = Q._write_sentinel_parquet
        monkeypatch.setattr(
            Q, "_write_sentinel_parquet", lambda *a: staged.append(write(*a))
        )
        CACHE.clear()
        Q._events_stream_with_flush(spark, sf_dir, "evflush")
        Q._events_stream_with_flush(spark, sf_dir, "evflush")
        assert len(staged) == 1
        CACHE.clear()
        Q._events_stream_with_flush(spark, sf_dir, "evflush")
        assert len(staged) == 2


class TestPerApplicationFixtures:
    def test_f06_leaves_foreign_dirs_alone(self, spark, sf_dir):
        from kinesis_log_streamer_spark.plans import queries as Q

        tmp = tempfile.gettempdir()
        made, sentinels = [], []
        for foreign in ("klss_f06_evo", "klss_f06_evo_other-app"):
            base = os.path.join(tmp, foreign)
            if not os.path.exists(base):
                made.append(base)
            os.makedirs(os.path.join(base, "b1"), exist_ok=True)
            sentinel = os.path.join(base, "b1", "sentinel")
            with open(sentinel, "w") as fh:
                fh.write("in use")
            sentinels.append(sentinel)
        try:
            assert Q.f06_schema_evolution(spark, sf_dir).collect()
            for sentinel in sentinels:
                assert os.path.exists(sentinel), sentinel
        finally:
            for sentinel in sentinels:
                if os.path.exists(sentinel):
                    os.remove(sentinel)
            for base in made:
                shutil.rmtree(base, ignore_errors=True)

    @pytest.mark.parametrize(
        "name,scratch",
        [
            ("f01_csv_roundtrip", "f01"),
            ("f02_partitioned_parquet_roundtrip", "f02"),
            ("f03_orc_roundtrip", "f03"),
            ("f06_schema_evolution", "f06"),
            ("i04_line_pipeline_roundtrip", "i04"),
            ("i05_concat_json_decode", "i05"),
            ("i06_json_seq_roundtrip", "i06"),
        ],
    )
    def test_fixture_dir_names_the_application(
        self, spark, sf_dir, name, scratch, monkeypatch
    ):
        from kinesis_log_streamer_spark.plans import queries as Q

        made = {}
        real = Q._scratch
        monkeypatch.setattr(
            Q, "_scratch", lambda sp, n: made.setdefault(n, real(sp, n))
        )
        assert Q.REGISTRY[name](spark, sf_dir).collect()
        path = made[scratch]
        assert os.path.isdir(path)
        root = os.path.basename(os.path.dirname(path))
        assert root == "klss-" + spark.sparkContext.applicationId
