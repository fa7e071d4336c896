"""The driver JVM's class-data archive (``session.get_spark``).

Every case launches its own JVM in a subprocess with its own
``XDG_CACHE_HOME``: a launch's options are fixed once the gateway runs,
so only a fresh process shows what the JVM was given.  The options are
read back over py4j from ``RuntimeMXBean.getInputArguments()``.

Probe launches kill their JVM before exiting, so no archive is written
(the at-exit hook then discards the recording).  Two CLI ``--dry-run``
runs per module, on one empty cache, launch plain and then record for
real; that archive is shared by the mapping and mismatch cases."""

from __future__ import annotations

import collections
import json
import os
import shutil
import subprocess
import sys
import time

import pytest

from pyspark.find_spark_home import _find_spark_home

from kinesis_log_streamer_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PROBE = r"""
import atexit, json, sys
sys.path.insert(0, @@REPO@@)
from pyspark import SparkContext
from kinesis_log_streamer_spark.session import get_spark

spark = get_spark("cds-probe", extra_conf=@@EXTRA@@)
mx = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
hooks = atexit._ncallbacks()
get_spark("cds-probe")
print(json.dumps({
    "args": list(mx.getInputArguments()),
    "count": spark.range(3).count(),
    "second_hooks": atexit._ncallbacks() - hooks,
}))
SparkContext._gateway.proc.kill()  # no dump: the hook drops the recording
SparkContext._gateway.proc.wait()
"""

_CDS_FLAGS = ("-XX:SharedArchiveFile", "-XX:ArchiveClassesAtExit", "-Xlog")


def _env(cache: str, **extra: str) -> dict:
    env = dict(os.environ)
    env.update(
        XDG_CACHE_HOME=cache,
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_DRIVER_MEM="1g",
        PYTHONPATH=REPO,
        **extra,
    )
    return env


def _probe(cache: str, extra_conf=None, **env) -> dict:
    """``get_spark`` in a fresh process: its JVM's input arguments, the
    hooks a second ``get_spark`` added, and the session's stderr."""
    script = _PROBE.replace("@@REPO@@", repr(REPO)).replace(
        "@@EXTRA@@", repr(extra_conf or {})
    )
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=300,
        env=_env(cache, **env),
        cwd=REPO,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["count"] == 3  # the session started
    out["stderr"] = proc.stderr
    return out


def _flag(args: list[str], name: str) -> list[str]:
    return [a.split("=", 1)[1] for a in args if a.startswith(name + "=")]


def _store(cache: str) -> str:
    return os.path.join(cache, "kinesis_log_streamer_spark")


def _archive_in(cache: str) -> str:
    """The one promoted archive in ``cache``."""
    (name,) = [n for n in os.listdir(_store(cache)) if n.endswith(".jsa")]
    return os.path.join(_store(cache), name)


def _archive_name(cache: str, monkeypatch) -> str:
    """The archive path a launch with ``XDG_CACHE_HOME=cache`` uses."""
    monkeypatch.setenv("XDG_CACHE_HOME", cache)
    return session._archive_path(_find_spark_home())


def _marked(cache: str, monkeypatch) -> str:
    """``cache`` as an earlier launch left it: with the key's mark, so
    a launch without a valid archive records."""
    path = _archive_name(cache, monkeypatch)
    open(path + ".seen", "w").close()
    return path


def _top_layer_classes(log: str) -> int:
    """Classes a ``-Xlog:class+load`` file shows loaded from the dynamic
    archive."""
    with open(log) as fh:
        return sum("source: shared objects file (top)" in line for line in fh)


N_RECORDS = 300
STDIN = " ".join(json.dumps({"n": i, "s": "x" * (i % 7)}) for i in range(N_RECORDS))
WANT = collections.Counter(
    json.dumps({"n": i, "s": "x" * (i % 7), "K": "V"}, separators=(",", ":"))
    for i in range(N_RECORDS)
)


def _dry_run(cache: str) -> subprocess.CompletedProcess:
    proc = subprocess.run(
        [sys.executable, "-m", "kinesis_log_streamer_spark.cli", "--dry-run",
         "-f", "json", "-I", "K=V", "Test"],
        input=STDIN,
        capture_output=True,
        text=True,
        timeout=300,
        env=_env(cache),
        cwd=REPO,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return proc


def _assert_only_records(stdout: str) -> None:
    """stdout holds nothing but ``key\\tdata`` lines, one per input
    record, all with one key."""
    lines = stdout.splitlines()
    assert all(line.count("\t") >= 1 for line in lines), [
        x for x in lines if "\t" not in x
    ][:5]
    keys = {line.split("\t", 1)[0] for line in lines}
    assert len(keys) == 1, keys
    assert collections.Counter(line.split("\t", 1)[1] for line in lines) == WANT


@pytest.fixture(scope="module")
def recorded(tmp_path_factory):
    """Two CLI runs on one empty cache: the first launches plain and
    leaves the key's mark, the second records the archive at exit."""
    cache = str(tmp_path_factory.mktemp("cds-recorded"))
    first = _dry_run(cache)
    names = sorted(os.listdir(_store(cache)))
    return cache, first, names, _dry_run(cache)


class TestStdoutPin:
    def test_first_run_launches_plain(self, recorded):
        _, first, names, _ = recorded
        _assert_only_records(first.stdout)
        (mark,) = [n for n in names if n != "conf"]
        assert mark.endswith(".jsa.seen"), names

    def test_recording_run(self, recorded):
        cache, _, _, proc = recorded
        _assert_only_records(proc.stdout)
        names = sorted(os.listdir(_store(cache)))
        jsa = [n for n in names if n.endswith(".jsa")]
        assert len(jsa) == 1 and jsa[0] + ".json" in names, names
        assert not [n for n in names if n.endswith(".tmp")], names

    def test_mapping_run(self, recorded):
        proc = _dry_run(recorded[0])
        _assert_only_records(proc.stdout)
        # the CLI runs no streaming query, so none is stopped mid-cancel
        assert "Failed to cancel job group" not in proc.stderr

    def test_archive_recorded_with_another_classpath(
        self, recorded, tmp_path, monkeypatch
    ):
        """An archive recorded with another classpath (another cache's
        conf dir), copied under this cache's name with a matching
        sidecar: the JVM rejects it with a warning that must stay off
        stdout."""
        other = str(tmp_path / "cache")
        dst = _archive_name(other, monkeypatch)
        shutil.copy(_archive_in(recorded[0]), dst)
        with open(dst + ".json", "w") as fh:
            json.dump(session._identity(dst), fh)
        proc = _dry_run(other)
        _assert_only_records(proc.stdout)
        assert "Unable to use shared archive" in proc.stderr


class TestLaunchPin:
    @pytest.mark.parametrize("spelling", ["direct", "symlink"])
    def test_warm_start_maps_archive(self, recorded, tmp_path, spelling):
        """A warm start passes the cache's archive and the JVM loads
        classes from it, also through a symlink to the cache (the JVM
        checks classpath entries as files, as the key does)."""
        cache = recorded[0]
        if spelling == "symlink":
            os.symlink(cache, tmp_path / "link")
            cache = str(tmp_path / "link")
        log = str(tmp_path / "class-load.log")
        out = _probe(
            cache,
            extra_conf={
                "spark.driver.extraJavaOptions": f"-Xlog:class+load=info:file={log}"
            },
        )
        archive = os.path.join(_store(cache), os.path.basename(_archive_in(recorded[0])))
        assert _flag(out["args"], "-XX:SharedArchiveFile") == [archive]
        assert not _flag(out["args"], "-XX:ArchiveClassesAtExit")
        assert "Unable to use shared archive" not in out["stderr"]
        assert _top_layer_classes(log) > 1000

    def test_cold_start_records(self, tmp_path):
        """The first launch on an empty cache is the plain one and
        leaves the key's mark; the next records to a per-process
        ``*.tmp``.  A caller's own options are kept; a second
        ``get_spark`` adds no hook; a JVM that does not exit with 0
        promotes nothing."""
        cache = str(tmp_path)
        caller = {"spark.driver.extraJavaOptions": "-Dklss.caller=kept"}
        first = _probe(cache, extra_conf=caller)
        assert not [a for a in first["args"] if a.startswith(_CDS_FLAGS)], first["args"]
        assert "-Dklss.caller=kept" in first["args"]
        (mark,) = [n for n in os.listdir(_store(cache)) if n != "conf"]
        assert mark.endswith(".jsa.seen")
        out = _probe(cache, extra_conf=caller)
        (tmp,) = _flag(out["args"], "-XX:ArchiveClassesAtExit")
        assert os.path.dirname(tmp) == _store(cache) and tmp.endswith(".tmp")
        assert not _flag(out["args"], "-XX:SharedArchiveFile")
        assert "-Dklss.caller=kept" in out["args"]
        assert out["second_hooks"] == 0
        assert sorted(os.listdir(_store(cache))) == sorted(["conf", mark])

    def test_real_conf_dir_launches_plain(self, tmp_path, monkeypatch):
        conf = tmp_path / "conf"
        conf.mkdir()
        (conf / "spark-defaults.conf").write_text("spark.klss.probe true\n")
        (conf / "log4j2.properties.template").write_text("")
        cache = str(tmp_path / "cache")
        _marked(cache, monkeypatch)
        args = _probe(cache, SPARK_CONF_DIR=str(conf))["args"]
        assert not [a for a in args if a.startswith(_CDS_FLAGS)], args


class TestArchiveValidity:
    """A file that is not the promoted archive with a matching sidecar
    never reaches ``-XX:SharedArchiveFile`` (a truncated archive kills
    the JVM with SIGBUS); the launch records a new one, whose promotion
    replaces the bad file."""

    @pytest.mark.parametrize("case", ["truncated", "foreign", "stale_tmp"])
    def test_bad_file_is_recorded_again(self, recorded, tmp_path, monkeypatch, case):
        src = _archive_in(recorded[0])
        cache = str(tmp_path)
        path = _marked(cache, monkeypatch)
        if case == "truncated":
            shutil.copy(src, path)
            with open(path + ".json", "w") as fh:
                json.dump(session._identity(path), fh)
            os.truncate(path, 2**20)
            bad = path
        elif case == "foreign":
            with open(path, "wb") as fh:
                fh.write(os.urandom(2**16))
            bad = path
        else:
            bad = f"{path}.1.tmp"
            with open(src, "rb") as fh, open(bad, "wb") as out:
                out.write(fh.read(2**20))
            old = time.time() - 2 * 3600
            os.utime(bad, (old, old))
        args = _probe(cache)["args"]
        assert not _flag(args, "-XX:SharedArchiveFile"), args
        (tmp,) = _flag(args, "-XX:ArchiveClassesAtExit")
        assert tmp != bad
        assert os.path.exists(bad) == (case != "stale_tmp")  # a stale *.tmp is swept
