"""The registry's three shared helpers in ``plans/queries.py``:
``_scratch`` (one empty per-application, per-thread fixture dir),
``_drain`` (one bounded ``availableNow`` drain) and ``_conf`` (one
session-conf window).  Pins their contracts and that no query works
around them — nor around a failure: each query has one path, and a
setup failure raises."""

from __future__ import annotations

import ast
import os
import shutil
import tempfile
import threading
from types import SimpleNamespace

import pytest

from kinesis_log_streamer_spark.plans import queries as Q
from kinesis_log_streamer_spark.session import CACHE

def _fake_spark(app: str):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app))


class _FakeQuery:
    def __init__(self, finished: bool) -> None:
        self.finished = finished
        self.id = "q-1"
        self.stopped = False

    def awaitTermination(self, timeout):  # noqa: N802 - Spark's name
        assert timeout == 600
        return self.finished

    def stop(self) -> None:
        self.stopped = True


class _FakeWriter:
    def __init__(self, query: _FakeQuery) -> None:
        self.query = query
        self.triggers = []

    def trigger(self, **kw):
        self.triggers.append(kw)
        return self

    def start(self):
        return self.query


class TestDrain:
    def test_timeout_stops_the_query_and_raises(self):
        q = _FakeQuery(finished=False)
        with pytest.raises(RuntimeError, match="timed out"):
            Q._drain(_FakeWriter(q))
        assert q.stopped

    def test_finished_drain_returns_the_running_query(self):
        q = _FakeQuery(finished=True)
        w = _FakeWriter(q)
        assert Q._drain(w) is q
        assert w.triggers == [{"availableNow": True}]
        assert not q.stopped


class TestConf:
    def test_restores_set_and_unsets_absent_when_the_body_raises(self, spark):
        set_key = "spark.sql.files.ignoreCorruptFiles"
        absent = "spark.sql.cbo.enabled"
        spark.conf.set(set_key, "false")
        spark.conf.unset(absent)
        try:
            with pytest.raises(ValueError):
                with Q._conf(spark, {set_key: "true", absent: "true"}):
                    assert spark.conf.get(set_key) == "true"
                    assert spark.conf.get(absent) == "true"
                    raise ValueError("body failed")
            assert spark.conf.get(set_key) == "false"
            assert spark.conf.get(absent, None) is None
        finally:
            spark.conf.unset(set_key)


class TestScratch:
    def test_same_thread_reuses_an_emptied_dir(self, tmp_path, monkeypatch):
        monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
        sp = _fake_spark("app-1")
        first = Q._scratch(sp, "x")
        with open(os.path.join(first, "left-over"), "w") as fh:
            fh.write("old")
        again = Q._scratch(sp, "x")
        assert again == first
        assert os.listdir(again) == []
        assert os.path.dirname(first) == str(tmp_path / "klss-app-1")

    def test_threads_and_applications_never_share(self, tmp_path, monkeypatch):
        monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
        sp = _fake_spark("app-1")
        other: list[str] = []
        t = threading.Thread(target=lambda: other.append(Q._scratch(sp, "x")))
        t.start()
        t.join()
        mine = Q._scratch(sp, "x")
        assert other[0] != mine
        assert Q._scratch(_fake_spark("app-2"), "x") != mine

    def test_each_call_refreshes_the_root_and_sweeps_stale_roots(
        self, tmp_path, monkeypatch
    ):
        monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
        sp = _fake_spark("app-1")
        root = os.path.dirname(Q._scratch(sp, "x"))
        stale = tmp_path / "klss-dead-app"
        spool = tmp_path / "klss-spool-live"
        stale.mkdir()
        spool.mkdir()
        past = os.path.getmtime(root) - 7200
        for d in (root, str(stale), str(spool)):
            os.utime(d, (past, past))
        Q._scratch_root(sp)
        assert os.path.getmtime(root) > past + 3600
        assert not stale.exists()
        assert spool.exists()

    def test_evflush_memo_refreshes_root_and_rebuilds_when_swept(
        self, spark, sf_dir, monkeypatch
    ):
        staged = []
        write = Q._write_sentinel_parquet
        monkeypatch.setattr(
            Q, "_write_sentinel_parquet", lambda *a: staged.append(write(*a))
        )
        CACHE.clear()
        Q._events_stream_with_flush(spark, sf_dir, "evflush")
        root = Q._scratch_root(spark)
        past = os.path.getmtime(root) - 7200
        os.utime(root, (past, past))
        Q._events_stream_with_flush(spark, sf_dir, "evflush")
        assert len(staged) == 1
        assert os.path.getmtime(root) > past + 3600
        for d in os.listdir(root):
            if d.startswith("evflush_"):
                shutil.rmtree(os.path.join(root, d))
        ev = Q._events_stream_with_flush(spark, sf_dir, "evflush")
        assert len(staged) == 2
        assert ev.isStreaming


def _helper_uses(tree: ast.Module) -> dict[str, set]:
    """Top-level definition name → the confined tokens used inside it."""
    found: dict[str, set] = {}
    for top in tree.body:
        owner = getattr(top, "name", "<module>")
        for node in ast.walk(top):
            token = None
            if isinstance(node, ast.Name) and node.id == "tempfile":
                token = "tempfile"
            elif isinstance(node, ast.alias) and node.name == "tempfile":
                token = "tempfile"
            elif isinstance(node, ast.Attribute) and node.attr in (
                "awaitTermination",
                "mkdtemp",
                "gettempdir",
            ):
                token = node.attr
            elif isinstance(node, ast.keyword) and node.arg == "availableNow":
                token = "availableNow"
            if token:
                found.setdefault(owner, set()).add(token)
    return found


class TestHelperConfinement:
    def test_tmp_and_drain_tokens_live_only_in_the_helpers(self):
        with open(Q.__file__) as fh:
            tree = ast.parse(fh.read())
        uses = _helper_uses(tree)
        assert set(uses) <= {
            "_sweep_stale_tmp",
            "_scratch_root",
            "_scratch",
            "_drain",
        }, uses
        assert not hasattr(Q, "_app_tmp")

    def test_no_scratch_path_outside_application_roots(
        self, spark, sf_dir, tmp_path, monkeypatch
    ):
        """One query per former scheme: a fixed path (st09), mkdtemp
        (st15), the per-application prefix (f01), the k08 stream dir
        and the evflush memo (st05)."""
        monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
        CACHE.clear()
        try:
            for name in (
                "st09_checkpoint_resume",
                "st15_state_across_restarts",
                "f01_csv_roundtrip",
                "k08_aws_transport_roundtrip",
                "st05_event_time_sessions",
            ):
                assert Q.REGISTRY[name](spark, sf_dir).collect(), name
        finally:
            CACHE.clear()
        app = spark.sparkContext.applicationId
        assert os.listdir(tmp_path) == ["klss-" + app]


class TestOnePathPerQuery:
    def test_no_environment_forks(self):
        """The only ``except`` handlers in the registry are the two
        scratch-dir races; no package module probes the environment
        (``*_available``), names the protobuf-gated transformWithState
        API, or imports ``importlib``; the package's one ``except
        ImportError`` is the boto3 guard in ``kinesis_client``; and no
        package function takes a ``fake`` or ``decode`` switch."""
        with open(Q.__file__) as fh:
            tree = ast.parse(fh.read())
        owners = [
            getattr(top, "name", "<module>")
            for top in tree.body
            for node in ast.walk(top)
            if isinstance(node, ast.ExceptHandler)
        ]
        assert sorted(owners) == ["_scratch_root", "_sweep_stale_tmp"], owners

        pkg = os.path.dirname(os.path.dirname(Q.__file__))
        import_guards = []
        for root, _dirs, files in os.walk(pkg):
            for fname in files:
                if not fname.endswith(".py"):
                    continue
                path = os.path.join(root, fname)
                with open(path) as fh:
                    src = fh.read()
                assert "transformWithStateInPandas" not in src, path
                funcs = []
                for top in ast.parse(src).body:
                    for node in ast.walk(top):
                        if isinstance(node, (ast.Import, ast.ImportFrom)):
                            mods = [a.name for a in node.names]
                            if isinstance(node, ast.ImportFrom):
                                mods = [node.module or ""]
                            tops = [m.split(".")[0] for m in mods]
                            assert "importlib" not in tops, path
                        if isinstance(node, ast.ExceptHandler) and any(
                            err in ast.unparse(node.type or ast.Pass())
                            for err in ("ImportError", "ModuleNotFoundError")
                        ):
                            import_guards.append(
                                (fname, getattr(top, "name", "<module>"))
                            )
                        if isinstance(
                            node, (ast.FunctionDef, ast.AsyncFunctionDef)
                        ):
                            funcs.append(node)
                probes = [f.name for f in funcs if f.name.endswith("_available")]
                assert not probes, (path, probes)
                switches = [
                    (f.name, a.arg)
                    for f in funcs
                    for a in (
                        f.args.posonlyargs + f.args.args + f.args.kwonlyargs
                    )
                    if a.arg in ("fake", "decode")
                ]
                assert not switches, (path, switches)
        assert import_guards == [("kinesis_source.py", "kinesis_client")]

    def test_k08_raises_when_the_server_cannot_start(
        self, spark, sf_dir, monkeypatch
    ):
        from moto.server import ThreadedMotoServer

        def refuse(self):
            raise OSError("bind refused")

        monkeypatch.setattr(ThreadedMotoServer, "start", refuse)
        with pytest.raises(OSError, match="bind refused"):
            Q.k08_aws_transport_roundtrip(spark, sf_dir)


class TestSweepStaleTmp:
    """The scratch-root sweeper (guarded getmtime) — pinned so the race
    tolerance can't regress."""

    def test_sweeps_old_keeps_fresh(self, tmp_path, monkeypatch):
        monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
        old = tmp_path / "klss-t12-old"
        new = tmp_path / "klss-t12-new"
        old.mkdir()
        new.mkdir()
        past = os.path.getmtime(str(old)) - 7200
        os.utime(str(old), (past, past))
        Q._sweep_stale_tmp()
        assert not old.exists() and new.exists()

    def test_vanished_path_between_glob_and_stat_is_tolerated(
        self, tmp_path, monkeypatch
    ):
        monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
        gone = tmp_path / "klss-t12-gone"
        gone.mkdir()
        real_getmtime = os.path.getmtime

        def racy_getmtime(p):
            if "klss-t12-gone" in str(p):
                # simulate the concurrent process rmtree-ing between
                # the sweeper's glob and its stat
                shutil.rmtree(str(gone), ignore_errors=True)
                raise FileNotFoundError(p)
            return real_getmtime(p)

        monkeypatch.setattr(os.path, "getmtime", racy_getmtime)
        # must not raise
        Q._sweep_stale_tmp()
