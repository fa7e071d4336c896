"""SparkSession factory with scale-appropriate defaults, and the driver
JVM's class-data archive.

Local testing runs ``local[$SPARK_GRAFT_CPUS]``; the same settings are
what we would ship on a 1000-executor cluster (AQE on, skew-join
handling on, UTC session timezone so results are comparable across
engines, Arrow enabled for the Pandas-UDF slow path).

Class-data archive.  Most of a short run's wall time is the driver JVM
loading Spark's classes.  ``get_spark`` gives the JVM it launches a JDK
dynamic AppCDS archive (application class-data sharing: a file of
pre-parsed classes the JVM maps at start-up), one per key of JDK
(``java`` realpath and release) and launch classpath (the cache's conf
dir, the Spark jars' names, sizes and mtimes), in
``${XDG_CACHE_HOME:-~/.cache}/kinesis_log_streamer_spark/``.  Only a
launch that finds the archive gains; it pays off when that directory
outlives a run:

* The first launch for a key leaves a mark (``<key>.jsa.seen``) and
  is otherwise the plain launch, so a cache that never outlives a run
  (a container's filesystem) costs nothing.
* A launch that finds the mark but no valid archive records one
  (``-XX:ArchiveClassesAtExit=<key>.jsa.<pid>.tmp``).  The JVM writes
  it as it exits, after Python closed the gateway, so an at-exit hook
  stops the context, closes the gateway and waits (bounded) for the
  JVM; only exit code 0 renames the file into place, then a sidecar
  ``<key>.jsa.json`` holding its size, ``mtime_ns`` and inode.  That
  one run is slower (~1-6 s more start-up, ~12-18 s of dumping at exit
  on 4 cores) and writes ~150-210 MB.  A promotion deletes the files
  of other keys; ``*.tmp`` files older than an hour are swept.
* Every later launch maps it (``-XX:SharedArchiveFile``), which about
  halves JVM start-up.  Only a file matching its sidecar is ever
  passed (a truncated archive kills the JVM with SIGBUS); anything
  else is recorded again and replaced when that recording is promoted.
* The JVM will not record with a non-empty directory on the classpath,
  so the launcher's conf dir becomes the cache's empty ``conf/`` (a
  fixed path: the archive records the classpath).  That is only done
  when ``SPARK_CONF_DIR`` (default ``$SPARK_HOME/conf``) holds nothing
  but ``*.template`` files.
* JVM log and VM output go to stderr on every launch with an archive
  (the CLI's ``--dry-run`` prints records to stdout).  The options are
  put in front of the caller's ``spark.driver.extraJavaOptions``, so
  the caller's own settings win.
* The launch is left as it is, with no archive option, when the cache
  is not writable, the conf dir holds real config, or a JVM already
  runs in this process (``getOrCreate`` reuses it).

Delete the cache directory to reset.
"""

from __future__ import annotations

import atexit
import contextlib
import hashlib
import json
import os
import shlex
import shutil
import subprocess
import time
from typing import NamedTuple

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

_JAVA_OPTIONS = "spark.driver.extraJavaOptions"
# Unified logging and the VM's own messages to stderr, with the cds
# tag set's per-class warnings ("Skipping ...: Signed JAR", hundreds on
# a recording run) cut to errors.
_LOG_TO_STDERR = (
    "-XX:+DisplayVMOutputToStderr -Xlog:disable "
    "-Xlog:all=warning:stderr -Xlog:cds=error:stderr"
)
_TMP_MAX_AGE_S = 3600.0
_RECORD_WAIT_S = 120.0


def get_spark(
    app_name: str = "kinesis_log_streamer_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Defaults are tuned for correctness-at-any-scale rather than a
    particular cluster size:

    * AQE enabled — runtime coalescing of shuffle partitions and skew
      join splitting mean ``spark.sql.shuffle.partitions`` is a ceiling,
      not a fixed fan-out, so the same code serves sf0.001 and 100 TB.
    * UTC session timezone — timestamps compare bit-for-bit against
      external oracles (DuckDB is UTC-naive).
    * Arrow on — Pandas UDFs move batches, not rows.

    A launch maps (or records) the class-data archive described in the
    module docstring.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cpus) if cpus.isdigit() else 32, 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Parquet TIMESTAMP(MICROS) without tz metadata loads as LTZ
        # (instant) rather than NTZ: the whole engine + its DuckDB
        # oracles compare in UTC instants, and LTZ keeps epoch casts
        # (`cast(ts as double)`) legal.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    conf = dict(extra_conf or {})
    archive = _class_data_archive()
    if archive is not None:
        caller = conf.get(_JAVA_OPTIONS, "")
        conf[_JAVA_OPTIONS] = f"{archive.java_options()} {caller}".strip()
    for k, v in conf.items():
        builder = builder.config(k, v)
    if archive is None:
        spark = builder.getOrCreate()
    else:
        spark = _launch(builder, archive)
    spark.sparkContext.setLogLevel("WARN")
    return spark


class _Archive(NamedTuple):
    path: str  # <cache>/<key>.jsa
    conf_dir: str  # <cache>/conf, empty: the launcher's SPARK_CONF_DIR
    record_to: str | None  # <path>.<pid>.tmp on a recording launch

    def java_options(self) -> str:
        if self.record_to is None:
            flag = f"-XX:SharedArchiveFile={self.path}"
        else:
            flag = f"-XX:ArchiveClassesAtExit={self.record_to}"
        return f"{_LOG_TO_STDERR} {shlex.quote(flag)}"


def _class_data_archive() -> _Archive | None:
    """The archive to map or record on this launch, or None for a plain
    launch."""
    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return None  # the JVM is running already; its flags are fixed
    spark_home = _find_spark_home()
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    try:
        if any(not n.endswith(".template") for n in _listdir(conf_dir)):
            return None
        path = _archive_path(spark_home)
        if path is None:
            return None
        cache = os.path.dirname(path)
        _sweep_tmp(cache)
        found = _identity(path)
        if found is not None and found == _read_sidecar(path):
            return _Archive(path, os.path.join(cache, "conf"), None)
        if not os.path.exists(path + ".seen"):
            # A cache no launch has used yet may not outlive this one
            # (a container's filesystem): launch plain and leave a mark;
            # the next launch that finds the mark records.
            open(path + ".seen", "a").close()
            return None
    except OSError:
        return None
    return _Archive(path, os.path.join(cache, "conf"), f"{path}.{os.getpid()}.tmp")


def _archive_path(spark_home: str) -> str | None:
    """``<cache>/<key>.jsa`` for this JDK, Spark install and cache, with
    the cache's empty ``conf/`` made; None when the cache is not
    writable or there is no ``java`` to launch."""
    # the launcher's choice (bin/spark-class): $JAVA_HOME/bin/java, else PATH
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not java or not os.path.isfile(java):
        return None
    cache = os.path.join(
        os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache"),
        "kinesis_log_streamer_spark",
    )
    empty = os.path.join(cache, "conf")
    os.makedirs(empty, exist_ok=True)
    if os.listdir(empty) or not os.access(cache, os.W_OK | os.X_OK):
        return None
    return os.path.join(cache, f"{_archive_key(java, spark_home, empty)}.jsa")


def _archive_key(java: str, spark_home: str, conf_dir: str) -> str:
    """Hash of what the JVM checks an archive against: the JDK and the
    launch classpath (conf dir, then ``jars/*``).  The JVM compares
    classpath entries as files, not as spellings (an archive recorded
    under one path maps through a symlink to it), so realpaths are
    hashed."""
    java = os.path.realpath(java)
    h = hashlib.sha256()
    with open(os.path.join(os.path.dirname(os.path.dirname(java)), "release"), "rb") as fh:
        h.update(f"{java}\0".encode() + fh.read())
    h.update(f"{os.path.realpath(conf_dir)}\0".encode())
    jars = os.path.realpath(os.path.join(spark_home, "jars"))
    h.update(f"{jars}\0".encode())
    for entry in sorted(os.scandir(jars), key=lambda e: e.name):
        st = entry.stat()
        h.update(f"{entry.name}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:16]


def _launch(builder, archive: _Archive) -> SparkSession:
    """``getOrCreate`` with the archive's conf dir as the launcher's
    SPARK_CONF_DIR; a recording launch registers the at-exit hook."""
    old = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = archive.conf_dir
    try:
        spark = builder.getOrCreate()
    finally:
        if old is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = old
    if archive.record_to is not None:
        atexit.register(_finish_recording, SparkContext._gateway, archive)
    return spark


def _finish_recording(gateway, archive: _Archive) -> None:
    """At exit of a recording run: end the JVM, which writes the archive
    as it exits, and promote the file only if the JVM exited with 0."""
    proc = gateway.proc
    # The JVM may be gone already (killed, crashed): whatever py4j
    # raises then, the wait below still reaps it and drops the file.
    with contextlib.suppress(Exception):
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
        gateway.shutdown()
    proc.stdin.close()  # the gateway server exits on EOF
    try:
        rc = proc.wait(_RECORD_WAIT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        rc = proc.wait()
    if rc == 0 and os.path.isfile(archive.record_to):
        with contextlib.suppress(OSError):
            _promote(archive)
    _remove(archive.record_to)


def _promote(archive: _Archive) -> None:
    """Rename the recording into place, then its sidecar, and delete the
    files of other keys.  Both renames are atomic and the sidecar names
    the file's inode, so a launch in between sees a mismatch (and
    records) but never maps a file its sidecar does not describe."""
    sidecar = archive.path + ".json"
    staged = f"{sidecar}.{os.getpid()}.tmp"
    with open(staged, "w") as fh:
        json.dump(_identity(archive.record_to), fh)
    os.replace(archive.record_to, archive.path)
    os.replace(staged, sidecar)
    cache, name = os.path.split(archive.path)
    for other in _listdir(cache):
        if other.endswith((".jsa", ".jsa.json", ".jsa.seen")) and not other.startswith(name):
            _remove(os.path.join(cache, other))


def _identity(path: str) -> dict | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return {"size": st.st_size, "mtime_ns": st.st_mtime_ns, "ino": st.st_ino}


def _read_sidecar(path: str) -> dict | None:
    try:
        with open(path + ".json") as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return None


def _sweep_tmp(cache: str) -> None:
    """Delete recordings left by runs that ended without promoting."""
    cutoff = time.time() - _TMP_MAX_AGE_S
    for name in _listdir(cache):
        path = os.path.join(cache, name)
        with contextlib.suppress(OSError):
            if name.endswith(".tmp") and os.stat(path).st_mtime < cutoff:
                os.remove(path)


def _listdir(path: str) -> list[str]:
    try:
        return os.listdir(path)
    except FileNotFoundError:
        return []


def _remove(*paths: str) -> None:
    for path in paths:
        with contextlib.suppress(FileNotFoundError):
            os.remove(path)


class SessionCache:
    """Get-or-build cache for plans and artifacts derived from input files.

    Entries are keyed by ``(applicationId, key)``, so a new SparkContext
    never sees DataFrames bound to a dead JVM; inserting for one
    application drops every other application's entries (PySpark allows
    one SparkContext per process).  Each entry records ``(realpath,
    mtime_ns)`` of the source paths it was built from and is rebuilt
    when any of them changes, so no entry outlives its files.
    """

    def __init__(self) -> None:
        self._entries: dict = {}

    def get(self, spark: SparkSession, key, build, paths=()):
        """Return ``build()`` for ``key``, built at most once per session
        and source-file version."""
        app = spark.sparkContext.applicationId
        stamp = tuple(_file_stamp(p) for p in paths)
        hit = self._entries.get((app, key))
        if hit is not None and hit[0] == stamp:
            return hit[1]
        value = build()
        for k in list(self._entries):
            if k[0] != app:
                self._entries.pop(k, None)
        self._entries[(app, key)] = (stamp, value)
        return value

    def clear(self) -> None:
        self._entries.clear()


def _file_stamp(path: str) -> tuple:
    real = os.path.realpath(path)
    try:
        return real, os.stat(real).st_mtime_ns
    except FileNotFoundError:
        return real, None


CACHE = SessionCache()
