"""The CLI data path: chunked stdin spool → one Spark batch per
hand-over (``stdin_spool.send_batches``) → sink, and the i08 registry
query that runs the same loop.

Proves the VERDICT r04 C1 gap is closed: a multi-chunk stream flows
through the pipeline with batch boundaries and order preserved while
the full input is NEVER held in one string (the ChunkedStream guard
below fails the test on any unbounded read)."""

from __future__ import annotations

import io
import os
import tempfile
import threading
import time

import pandas as pd
import pytest

from kinesis_log_streamer_spark.plans import queries as Q
from kinesis_log_streamer_spark.streaming.stdin_spool import StdinSpooler

from conftest import SF_SMOKE


class ChunkedStream(io.RawIOBase):
    """A byte stream that (a) yields data in caller-script chunk
    sizes and (b) REFUSES unbounded reads — any attempt to slurp the
    whole input (the old ``sys.stdin.read()`` path) raises."""

    def __init__(self, pieces: list[bytes], max_read: int = 65536):
        self._pieces = list(pieces)
        self._max = max_read

    def read(self, n: int = -1) -> bytes:
        if n is None or n < 0 or n > self._max:
            raise AssertionError(f"unbounded read({n}) — input was slurped")
        if not self._pieces:
            return b""
        piece = self._pieces.pop(0)
        if len(piece) > n:
            head, rest = piece[:n], piece[n:]
            self._pieces.insert(0, rest)
            return head
        return piece


class TestSpooler:
    def test_partial_line_carries_across_chunks(self, tmp_path):
        # "hel" + "lo\nwor" + "ld\n" → exactly two records, split
        # mid-record twice (linestreamer.go:49-57's carry rule)
        s = ChunkedStream([b"hel", b"lo\nwor", b"ld\n"])
        sp = StdinSpooler(s, str(tmp_path), fmt="line")
        assert sp.run() == 2
        files = sorted(os.listdir(tmp_path))
        lines = []
        for f in files:
            lines += (tmp_path / f).read_text().splitlines()
        assert lines == ["hello", "world"]

    def test_eof_partial_line_is_a_record(self, tmp_path):
        s = ChunkedStream([b"a\nb"])  # no trailing newline
        sp = StdinSpooler(s, str(tmp_path), fmt="line")
        assert sp.run() == 2

    def test_one_file_per_productive_chunk_in_order(self, tmp_path):
        pieces = [f"line-{i:03d}\n".encode() for i in range(20)]
        sp = StdinSpooler(ChunkedStream(pieces), str(tmp_path), fmt="line")
        assert sp.run() == 20
        files = sorted(os.listdir(tmp_path))
        assert sp.n_files == len(files) == 20  # flush-on-idle per chunk
        out = []
        for f in files:
            out += (tmp_path / f).read_text().splitlines()
        assert out == [f"line-{i:03d}" for i in range(20)]

    def test_json_value_split_across_chunks(self, tmp_path):
        raw = b'{"a": 1}{"b": [1, 2]} "str" 42 {"c": {"d": null}}'
        pieces = [raw[i : i + 7] for i in range(0, len(raw), 7)]
        sp = StdinSpooler(ChunkedStream(pieces), str(tmp_path), fmt="json")
        assert sp.run() == 5
        out = []
        for f in sorted(os.listdir(tmp_path)):
            out += (tmp_path / f).read_text().splitlines()
        assert out == ['{"a":1}', '{"b":[1,2]}', '"str"', "42", '{"c":{"d":null}}']

    def test_json_trailing_garbage_raises(self, tmp_path):
        sp = StdinSpooler(
            ChunkedStream([b'{"a": 1} {"unterminated']),
            str(tmp_path),
            fmt="json",
        )
        with pytest.raises(ValueError, match="trailing non-JSON"):
            sp.run()

    def test_json_entries_land_sink_ready_records(self, tmp_path):
        raw = b'{"a": 1.0, "LogFile": "x", "s": "\\ud800"} null [2] {"b": {"d": 1, "c": 2}}'
        pieces = [raw[i : i + 5] for i in range(0, len(raw), 5)]
        sp = StdinSpooler(
            ChunkedStream(pieces), str(tmp_path), fmt="json",
            entries={"LogFile": "L", "Tag": "T"},
        )
        assert sp.run() == 3  # the top-level null is no record
        out = []
        for f in sorted(os.listdir(tmp_path)):
            out += (tmp_path / f).read_text(encoding="utf-8").splitlines()
        assert out == [
            '{"a":1,"LogFile":"L","s":"\ufffd","Tag":"T"}',
            "[2]",
            '{"b":{"c":2,"d":1},"LogFile":"L","Tag":"T"}',
        ]

    def test_json_non_finite_number_raises_after_prior_records(self, tmp_path):
        sp = StdinSpooler(
            ChunkedStream([b'{"a": 1} {"n": NaN} {"b": 2}']),
            str(tmp_path),
            fmt="json",
            entries={},
        )
        with pytest.raises(ValueError, match="Out of range float"):
            sp.run()
        landed = [
            line
            for f in sorted(os.listdir(tmp_path))
            for line in (tmp_path / f).read_text().splitlines()
        ]
        assert landed == ['{"a":1}']

    def test_memory_bound_never_slurps(self, tmp_path):
        # 300 KiB through a 4 KiB window: any read() wider than the
        # window raises inside ChunkedStream
        body = b"".join(b"x" * 99 + b"\n" for _ in range(3000))
        s = ChunkedStream([body], max_read=4096)
        sp = StdinSpooler(s, str(tmp_path), fmt="line", chunk_bytes=4096)
        assert sp.run() == 3000


class _RecordingSink:
    """Records each non-empty batch; with ``gate`` the first
    ``write_batch`` waits for ``release`` (a stalled sink), and
    ``on_write`` runs as each write starts."""

    def __init__(self, gate: bool = False, on_write=None):
        self.batches: list[tuple[int, list[str]]] = []
        self.arrived: list[float] = []  # monotonic time of each batch
        self.entered = threading.Event()
        self.release = threading.Event()
        if not gate:
            self.release.set()
        self._on_write = on_write

    def write_batch(self, df, epoch_id):
        if self._on_write is not None:
            self._on_write()
        self.entered.set()
        self.release.wait(60)
        rows = [r["data"] for r in df.collect()]
        if rows:
            self.batches.append((epoch_id, rows))
            self.arrived.append(time.monotonic())


def _run_cli_streaming(monkeypatch, stream, fmt="line", sink=None):
    """``cli.run_streaming`` (no --dry-run) with a recording sink bound
    in place of ``KinesisSink``; returns (exit code, sink)."""
    from kinesis_log_streamer_spark import cli
    from kinesis_log_streamer_spark.streaming import kinesis_sink

    sink = sink or _RecordingSink()
    monkeypatch.setattr(kinesis_sink, "KinesisSink", lambda *a, **kw: sink)
    monkeypatch.setattr(cli, "get_host_id", lambda probe_network=False: "testhost")
    args = cli.build_parser().parse_args(["-f", fmt, "Stream"])
    output_format = "json" if fmt == "json" else "string"
    return cli.run_streaming(args, {}, output_format, stream), sink


def _file_pieces(n_files: int, lines_per_file: int = 20) -> list[bytes]:
    """One read per piece, each of whole lines: the spooler lands
    exactly one file per piece, of the piece's size."""
    return [
        b"".join(
            f"rec-{i:03d}-{j:02d} GET /index.html 200\n".encode()
            for j in range(lines_per_file)
        )
        for i in range(n_files)
    ]


def _lines(pieces: list[bytes]) -> list[str]:
    return [x.decode() for p in pieces for x in p.splitlines()]


class TestStreamingEndToEnd:
    def test_cli_streaming_dry_run(self, spark, capsys, monkeypatch):
        """`--dry-run` end-to-end through run_streaming, the CLI's one
        data path: chunked stdin in, records on stdout, zero
        full-input buffering."""
        from kinesis_log_streamer_spark import cli

        args = cli.build_parser().parse_args(
            ["--dry-run", "-f", "line", "Stream"]
        )
        entries = {}
        stream = ChunkedStream([b"one\ntw", b"o\nthree\n"])
        rc = cli.run_streaming(args, entries, "string", stream)
        assert rc == 0
        out = capsys.readouterr().out
        got = sorted(
            line.split("\t", 1)[1] for line in out.strip().splitlines()
        )
        assert got == ["one", "three", "two"]


class TestCliStreamingIntake:
    """``run_streaming`` sizes each batch (one ``StdinSpooler.take``)
    by landed bytes (``cli.MAX_BYTES_PER_TRIGGER``), not by a file
    count."""

    def test_backlog_drains_in_at_most_two_batches(self, spark, monkeypatch):
        # 40 landed files: more than Spark's 32-path listing threshold
        # and 8 batches' worth under the old 5-file cap
        pieces = _file_pieces(40)
        rc, sink = _run_cli_streaming(monkeypatch, ChunkedStream(pieces))
        assert rc == 0
        got = [r for _, rows in sink.batches for r in rows]
        assert sorted(got) == sorted(_lines(pieces))  # exactly once
        # a stream without fileno hands over after every landed file,
        # so the first take() may come mid-spool; the rest are held
        # by the time that batch is sent
        assert len(sink.batches) <= 2

    def test_byte_cap_bounds_each_batch(self, spark, monkeypatch):
        from kinesis_log_streamer_spark import cli

        pieces = _file_pieces(12)
        file_bytes = len(pieces[0])
        cap = int(2.5 * file_bytes)
        monkeypatch.setattr(cli, "MAX_BYTES_PER_TRIGGER", cap)
        rc, sink = _run_cli_streaming(monkeypatch, ChunkedStream(pieces))
        assert rc == 0
        got = [r for _, rows in sink.batches for r in rows]
        assert sorted(got) == sorted(_lines(pieces))
        # take() hands out whole files up to the cap (at least one
        # file, and each file here is smaller than the cap)
        for _, rows in sink.batches:
            assert sum(len(r) + 1 for r in rows) <= cap

    def test_trickle_flushes_on_idle(self, spark, monkeypatch):
        """Single-record reads with pauses: each record reaches the
        sink within one second of being read (one small Spark batch),
        not when a byte budget fills or the stream ends."""
        lag_bound_s = 1.0

        class TricklingStream(io.RawIOBase):
            def __init__(self, records: list[str], pause_s: float):
                self._records = list(records)
                self._pause = pause_s
                self.read_at: dict[str, float] = {}

            def read(self, n: int = -1) -> bytes:
                if not self._records:
                    return b""
                if self.read_at:
                    time.sleep(self._pause)
                rec = self._records.pop(0)
                self.read_at[rec] = time.monotonic()
                return (rec + "\n").encode()

        records = [f"trickle-{i}" for i in range(5)]
        stream = TricklingStream(records, pause_s=2 * lag_bound_s)
        rc, sink = _run_cli_streaming(monkeypatch, stream)
        assert rc == 0
        arrived = {
            r: t for (_, rows), t in zip(sink.batches, sink.arrived) for r in rows
        }
        assert sorted(arrived) == records
        # records[0] also waits for the session to start; a record
        # held for more input would lag by a whole pause
        lags = [arrived[r] - stream.read_at[r] for r in records[1:]]
        assert max(lags) < lag_bound_s, lags

    @pytest.mark.parametrize(
        "fmt, payload, want_rc",
        [("line", b"one\ntwo\n", 0), ("json", b'{"ok": 1} {"unterminated', 1)],
    )
    def test_spool_temp_dir_removed(
        self, spark, monkeypatch, tmp_path, fmt, payload, want_rc
    ):
        monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
        stream = ChunkedStream([payload])
        rc, sink = _run_cli_streaming(monkeypatch, stream, fmt=fmt)
        assert rc == want_rc
        assert sink.batches  # the spool dir held data during the run
        assert not list(tmp_path.glob("klss-spool-*"))


class TestStdinReadDuringStartup:
    def test_producer_finishes_while_session_starts(self, spark, monkeypatch):
        """stdin is drained while ``get_spark`` is still starting: a
        producer writing 1 MiB into a pipe (whose buffer holds 64 KiB)
        finishes before a stubbed slow ``get_spark`` returns, and every
        record then arrives exactly once."""
        from kinesis_log_streamer_spark import session

        lines = [
            f"startup-{i:06d} GET /index.html 200 {'x' * 32}\n" for i in range(16384)
        ]
        payload = "".join(lines).encode()
        assert len(payload) >= 2**20
        r, w = os.pipe()
        producer_done = threading.Event()

        def produce():
            with os.fdopen(w, "wb") as fh:
                fh.write(payload)
            producer_done.set()

        real_get_spark = session.get_spark
        seen = []

        def slow_get_spark(*args, **kwargs):
            seen.append(producer_done.wait(20))
            return real_get_spark(*args, **kwargs)

        monkeypatch.setattr(session, "get_spark", slow_get_spark)
        producer = threading.Thread(target=produce, daemon=True)
        producer.start()
        with os.fdopen(r, "rb") as stream:
            rc, sink = _run_cli_streaming(monkeypatch, stream)
        producer.join(timeout=10)
        assert seen == [True], "the producer blocked while the session started"
        assert rc == 0
        got = [x for _, rows in sink.batches for x in rows]
        assert sorted(got) == sorted(x.rstrip("\n") for x in lines)

    def test_spool_temp_dir_removed_when_session_fails(self, monkeypatch, tmp_path):
        """The spooler runs before ``get_spark``; a session that fails to
        start still leaves no spool dir behind."""
        from kinesis_log_streamer_spark import session

        def failing_get_spark(*args, **kwargs):
            time.sleep(0.5)  # the spooler has landed its file by now
            raise RuntimeError("no session")

        monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
        monkeypatch.setattr(session, "get_spark", failing_get_spark)
        with pytest.raises(RuntimeError, match="no session"):
            _run_cli_streaming(monkeypatch, ChunkedStream([b"one\ntwo\n"]))
        assert not list(tmp_path.glob("klss-spool-*"))


class _WriteEnd:
    """A pipe's write end, closed once: by the test, or by a fallback
    timer, so that a hand-over that never comes fails the test instead
    of hanging it.  ``close()`` is True only for the call that closed."""

    def __init__(self, fd: int, fallback_s: float = 30.0):
        self.fd = fd
        self._lock = threading.Lock()
        self._timer = threading.Timer(fallback_s, self.close)
        self._timer.daemon = True
        self._timer.start()

    def close(self) -> bool:
        with self._lock:
            if self.fd is None:
                return False
            os.close(self.fd)
            self.fd = None
        self._timer.cancel()
        return True


class TestSpoolHandOver:
    """The spooler hands landed files to its consumer when stdin goes
    quiet, at EOF, or once ``batch_bytes`` are held; a take holds at
    most ``batch_bytes`` (always at least one file)."""

    def test_quiet_pipe_hands_over_without_eof(self, tmp_path):
        r, w = os.pipe()
        write_end = _WriteEnd(w, fallback_s=10.0)
        with os.fdopen(r, "rb") as stream:
            sp = StdinSpooler(stream, str(tmp_path), fmt="line", batch_bytes=2**20)
            sp.start_thread()
            os.write(w, b"one\ntwo\n")
            files = sp.take()
            assert write_end.close(), "handed over only at EOF"
            assert [os.path.basename(p) for p, _ in files] == ["part-000000.txt"]
            assert files[0][1] == len(b"one\ntwo\n")
            assert sp.take() is None

    def test_backlog_producer_pause_does_not_split_the_hand_over(self, tmp_path):
        """After a read of half a chunk or more the idle poll grants the
        producer ``BACKLOG_GRACE_MS`` to refill the pipe: a backlog
        whose writer pauses for a few ms is still one hand-over."""
        from kinesis_log_streamer_spark.streaming.stdin_spool import (
            BACKLOG_GRACE_MS,
            CHUNK_BYTES,
        )

        line = b"x" * 99 + b"\n"
        piece = line * (CHUNK_BYTES // len(line))
        r, w = os.pipe()
        write_end = _WriteEnd(w, fallback_s=10.0)

        def produce():
            os.write(w, piece)
            # pause only once the spooler has landed the first read
            while not (tmp_path / "part-000000.txt").exists():
                time.sleep(0.0005)
            time.sleep(BACKLOG_GRACE_MS / 4000)
            os.write(w, piece)

        with os.fdopen(r, "rb") as stream:
            sp = StdinSpooler(stream, str(tmp_path), fmt="line", batch_bytes=2**20)
            writer = threading.Thread(target=produce, daemon=True)
            writer.start()
            sp.start_thread()
            files = sp.take()
            writer.join(10)
            assert write_end.close(), "handed over only at EOF"
            assert sum(size for _, size in files) == 2 * len(piece)
            assert sp.take() is None

    def test_take_is_capped_by_batch_bytes(self, tmp_path):
        pieces = _file_pieces(5)
        size = len(pieces[0])
        # the bound, 2 × batch_bytes, holds all five files: run() ends
        sp = StdinSpooler(
            ChunkedStream(pieces), str(tmp_path), fmt="line",
            batch_bytes=5 * size // 2,
        )
        sp.run()
        takes = [[os.path.basename(p) for p, _ in t] for t in iter(sp.take, None)]
        assert takes == [
            ["part-000000.txt", "part-000001.txt"],
            ["part-000002.txt", "part-000003.txt"],
            ["part-000004.txt"],
        ]


class TestCliBatchLoop:
    def test_no_streaming_query_and_a_burst_is_one_batch(
        self, spark, monkeypatch, tmp_path
    ):
        """The CLI runs one plain Spark batch per hand-over: while the
        sink writes, no ``StreamingQuery`` is active and the spool dir
        holds no checkpoint, only ``landing``.  A burst written to an
        open pipe before the session is up arrives in one batch."""
        from kinesis_log_streamer_spark import session

        monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
        lines = [f"burst-{i:05d} GET /index.html 200\n" for i in range(10000)]
        payload = "".join(lines).encode()
        assert len(payload) > 4 * 65536  # more than the pipe buffer holds
        r, w = os.pipe()
        written = threading.Event()

        def produce():
            view = memoryview(payload)
            while view:
                view = view[os.write(w, view):]
            written.set()

        real_get_spark = session.get_spark

        def slow_get_spark(*args, **kwargs):
            assert written.wait(20)
            time.sleep(0.5)  # the spooler lands the pipe's last bytes
            return real_get_spark(*args, **kwargs)

        seen = []
        write_end = _WriteEnd(w, fallback_s=60.0)

        def on_write():
            seen.append((
                [q.id for q in spark.streams.active],
                [p.name for p in tmp_path.glob("klss-spool-*/*")],
                write_end.close(),  # EOF once the first batch is written
            ))

        monkeypatch.setattr(session, "get_spark", slow_get_spark)
        threading.Thread(target=produce, daemon=True).start()
        sink = _RecordingSink(on_write=on_write)
        with os.fdopen(r, "rb") as stream:
            assert _run_cli_streaming(monkeypatch, stream, sink=sink)[0] == 0
        assert seen == [([], ["landing"], True)]
        assert len(sink.batches) == 1
        assert sorted(sink.batches[0][1]) == sorted(x.rstrip("\n") for x in lines)

    def test_stalled_sink_blocks_the_producer(self, spark, monkeypatch, tmp_path):
        """Bounded spool: while the sink is stalled the spooler stops
        reading once more than ``2 × MAX_BYTES_PER_TRIGGER`` landed
        bytes are unsent, so the producer's write blocks and the
        landing dir stays within that bound plus one chunk file.  After
        the release every record arrives exactly once."""
        from kinesis_log_streamer_spark import cli
        from kinesis_log_streamer_spark.streaming.stdin_spool import CHUNK_BYTES

        cap = 16384
        monkeypatch.setattr(cli, "MAX_BYTES_PER_TRIGGER", cap)
        monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
        lines = [f"held-{i:06d} GET /index.html 200 {'x' * 40}\n" for i in range(16384)]
        payload = "".join(lines).encode()
        r, w = os.pipe()
        produced = threading.Event()

        def produce():
            with os.fdopen(w, "wb") as fh:
                for at in range(0, len(payload), 4096):
                    fh.write(payload[at : at + 4096])
            produced.set()

        sink = _RecordingSink(gate=True)
        result = []
        stream = os.fdopen(r, "rb")
        cli_thread = threading.Thread(
            target=lambda: result.append(
                _run_cli_streaming(monkeypatch, stream, sink=sink)[0]
            ),
            daemon=True,
        )
        threading.Thread(target=produce, daemon=True).start()
        cli_thread.start()
        try:
            assert sink.entered.wait(120)
            landed_max = 0
            deadline = time.monotonic() + 1.5
            while time.monotonic() < deadline:
                landed = 0
                for path in tmp_path.glob("klss-spool-*/landing/*"):
                    try:
                        landed += path.stat().st_size
                    except OSError:
                        pass
                landed_max = max(landed_max, landed)
                time.sleep(0.02)
            assert not produced.is_set(), "the producer was never slowed"
            line = max(len(x) for x in lines)
            assert 0 < landed_max <= 2 * cap + CHUNK_BYTES + line, landed_max
        finally:
            sink.release.set()
            cli_thread.join(120)
            stream.close()
        assert produced.is_set() and result == [0]
        got = [x for _, rows in sink.batches for x in rows]
        assert sorted(got) == sorted(x.rstrip("\n") for x in lines)

    def test_host_id_resolves_while_session_starts(self, spark, monkeypatch):
        """``get_host_id`` (up to two metadata-probe timeouts off AWS)
        runs while ``get_spark`` starts the session, not after it."""
        from kinesis_log_streamer_spark import cli, session
        from kinesis_log_streamer_spark.streaming import kinesis_sink

        spans = {}
        real_get_spark = session.get_spark

        def slow(name, fn):
            def run(*args, **kwargs):
                t0 = time.monotonic()
                time.sleep(0.5)
                out = fn(*args, **kwargs)
                spans[name] = (t0, time.monotonic())
                return out

            return run

        monkeypatch.setattr(session, "get_spark", slow("spark", real_get_spark))
        sink = _RecordingSink()
        monkeypatch.setattr(kinesis_sink, "KinesisSink", lambda *a, **kw: sink)
        monkeypatch.setattr(
            cli, "get_host_id", slow("host", lambda probe_network=False: "testhost")
        )
        args = cli.build_parser().parse_args(["-f", "line", "Stream"])
        assert cli.run_streaming(args, {}, "string", ChunkedStream([b"a\n"])) == 0
        assert sink.batches == [(0, ["a"])]
        (h0, h1), (s0, s1) = spans["host"], spans["spark"]
        assert h0 < s1 and s0 < h1, spans


class TestCliRecordOrder:
    def test_each_landed_file_prints_contiguous_in_file_order(
        self, spark, monkeypatch, capsys
    ):
        """What ``--dry-run`` promises about order: every record once,
        and one landed file's records together and in file order.
        Order ACROSS the files of one batch is not kept (the file
        source packs a batch's files into splits by size)."""
        from kinesis_log_streamer_spark import cli

        pieces = _file_pieces(48)
        monkeypatch.setattr(
            "sys.stdin", io.TextIOWrapper(ChunkedStream(pieces))
        )
        assert cli.main(["--dry-run", "Stream"]) == 0
        got = [
            line.split("\t", 1)[1]
            for line in capsys.readouterr().out.splitlines()
        ]
        assert sorted(got) == sorted(_lines(pieces))  # exactly once
        for piece in pieces:
            want = piece.decode().splitlines()
            at = got.index(want[0])
            assert got[at : at + len(want)] == want


class TestKinesisSinkWriteShape:
    def test_driver_side_write_keeps_file_order_without_exchange(
        self, spark, tmp_path
    ):
        """``KinesisSink.write_batch`` over a micro-batch of 40 landed
        files: every record once, one file's records together and in
        file order in the shard file, ``put_records`` called in this
        (the driver's) process, and the write's plan has no exchange.
        Order ACROSS files is not pinned."""
        import json

        from kinesis_log_streamer_spark.sources.kinesis_source import (
            DirKinesisClient,
        )
        from kinesis_log_streamer_spark.streaming.kinesis_sink import KinesisSink
        from kinesis_log_streamer_spark.streaming.pipeline import (
            build_line_pipeline,
        )

        class PidClient(DirKinesisClient):
            pids: list[int] = []

            def put_records(self, StreamName, Records):  # noqa: N803
                self.pids.append(os.getpid())
                return super().put_records(StreamName=StreamName, Records=Records)

        landing = tmp_path / "landing"
        landing.mkdir()
        pieces = _file_pieces(40)
        for i, piece in enumerate(pieces):
            (landing / f"part-{i:03d}.txt").write_bytes(piece)
        records = build_line_pipeline(
            spark.read.text(str(landing)), "string", host_id="testhost"
        )
        ep = str(tmp_path / "sink")
        sink = KinesisSink("Test", client_factory=lambda: PidClient(ep))

        store = spark._jsparkSession.sharedState().statusStore()
        bus = spark.sparkContext._jsc.sc().listenerBus()

        def plans() -> dict[int, str]:
            bus.waitUntilEmpty()
            execs = store.executionsList()
            return {
                execs.apply(i).executionId(): execs.apply(i).physicalPlanDescription()
                for i in range(execs.size())
            }

        before = plans()
        sink.write_batch(records, epoch_id=0)
        new = [plan for eid, plan in plans().items() if eid not in before]

        got = [
            json.loads(line)["data"]
            for p in sorted((tmp_path / "sink").glob("shard-*.jsonl"))
            for line in p.read_text().splitlines()
        ]
        assert sorted(got) == sorted(_lines(pieces))  # exactly once
        for piece in pieces:
            want = piece.decode().splitlines()
            at = got.index(want[0])
            assert got[at : at + len(want)] == want
        assert PidClient.pids and set(PidClient.pids) == {os.getpid()}
        assert len(new) == 1  # the write is one SQL execution...
        assert "Exchange" not in new[0]  # ...that shuffles nothing


def test_spooler_prefers_read1_over_blocking_read(tmp_path):
    """sys.stdin.buffer-style streams must be consumed via read1 (any
    available bytes) — a buffered read(n) would block a quiet pipe
    until n bytes accumulated, killing flush-on-idle."""

    class BufferedPipe:
        def __init__(self):
            self.read1_calls = 0
            self._pieces = [b"hello\n", b"world\n"]

        def read1(self, n: int) -> bytes:
            self.read1_calls += 1
            return self._pieces.pop(0) if self._pieces else b""

        def read(self, n: int) -> bytes:  # pragma: no cover
            raise AssertionError("blocking read(n) used instead of read1")

    pipe = BufferedPipe()
    sp = StdinSpooler(pipe, str(tmp_path), fmt="line")
    assert sp.run() == 2
    assert pipe.read1_calls >= 2


def test_spooler_crash_sets_done_and_error(tmp_path):
    """A dead spool thread must still release its consumer: done is
    set in a finally, with the exception surfaced on .error (the CLI
    exits 1 instead of hanging forever)."""
    sp = StdinSpooler(
        ChunkedStream([b'{"a": 1} {"unterminated']), str(tmp_path), fmt="json"
    )
    t = sp.start_thread()
    t.join(timeout=10)
    assert sp.done.is_set()
    assert isinstance(sp.error, ValueError)


def test_cli_streaming_json_non_finite_exits_1(spark, capsys):
    from kinesis_log_streamer_spark import cli

    args = cli.build_parser().parse_args(
        ["--dry-run", "-f", "json", "Stream"]
    )
    stream = ChunkedStream([b'{"ok": 1} {"n": 1e400}'])
    assert cli.run_streaming(args, {}, "json", stream) == 1
    assert '"n":"Infinity"' not in capsys.readouterr().out


def test_cli_streaming_json_garbage_exits_1(spark, capsys):
    from kinesis_log_streamer_spark import cli

    args = cli.build_parser().parse_args(
        ["--dry-run", "-f", "json", "Stream"]
    )
    stream = ChunkedStream([b'{"ok": 1} {"unterminated'])
    rc = cli.run_streaming(args, {}, "json", stream)
    assert rc == 1


def test_cli_spool_failure_is_reported_once(spark, capsys, monkeypatch):
    """A malformed record fails the run with the CLI's one stderr line;
    the spool thread records the error instead of raising it, so no
    thread traceback reaches ``threading.excepthook``."""
    import threading

    from kinesis_log_streamer_spark import cli

    hooked = []
    monkeypatch.setattr(threading, "excepthook", hooked.append)
    args = cli.build_parser().parse_args(["--dry-run", "-f", "json", "Stream"])
    stream = ChunkedStream([b'{"a":1}{bad'])
    assert cli.run_streaming(args, {}, "json", stream) == 1
    err = capsys.readouterr().err.splitlines()
    assert len(err) == 1 and err[0].startswith("stdin spool failed: "), err
    assert hooked == []


@pytest.mark.parametrize("mode", ["driver", "per-executor"])
def test_cli_streaming_host_identity_modes(spark, capsys, mode):
    """E1: every record carries the driver's host identity as its
    partition key, one key per process (linestreamer.go:102), and
    ``--host-identity`` is gone: every executor of the local session
    runs on the driver's host, so there is no other key to choose."""
    from kinesis_log_streamer_spark import cli
    from kinesis_log_streamer_spark.hostid import get_host_id

    parser = cli.build_parser()
    with pytest.raises(SystemExit) as exc:
        parser.parse_args(["--host-identity", mode, "Stream"])
    assert exc.value.code == 2
    capsys.readouterr()

    args = parser.parse_args(["--dry-run", "-f", "line", "Stream"])
    stream = ChunkedStream([b"alpha\nbe", b"ta\ngamma\n"])
    rc = cli.run_streaming(args, {}, "string", stream)
    assert rc == 0
    lines = capsys.readouterr().out.strip().splitlines()
    pairs = [line.split("\t", 1) for line in lines]
    assert sorted(p[1] for p in pairs) == ["alpha", "beta", "gamma"]
    assert {p[0] for p in pairs} == {get_host_id(probe_network=False)}


def test_malformed_json_on_open_pipe_fails_at_once(spark, tmp_path):
    """A malformed value ends the spool as soon as it is read, with the
    records before it landed, although stdin stays open and valid input
    keeps coming behind it: it is never mistaken for a value that more
    input could complete, so nothing stalls and the carry never grows
    (jsonstreamer.go:44-45)."""
    from kinesis_log_streamer_spark import cli

    payload = b'{"a":1}\n{bad}\n' + b'{"b":2}\n' * 2000

    def open_pipe():
        r, w = os.pipe()
        os.write(w, payload)  # fits the pipe buffer; w stays open
        return os.fdopen(r, "rb"), w

    stream, w = open_pipe()
    try:
        sp = StdinSpooler(stream, str(tmp_path), fmt="json", entries={})
        sp.start_thread()
        assert sp.done.wait(2.0)
        assert isinstance(sp.error, ValueError)
        assert "malformed JSON value" in str(sp.error)
        landed = [
            line
            for f in sorted(os.listdir(tmp_path))
            for line in (tmp_path / f).read_text().splitlines()
        ]
        assert landed == ['{"a":1}']
    finally:
        os.close(w)  # EOF first: a spool thread still reading then ends
        stream.close()

    stream, w = open_pipe()
    try:
        args = cli.build_parser().parse_args(["--dry-run", "-f", "json", "Stream"])
        assert cli.run_streaming(args, {}, "json", stream) == 1
    finally:
        os.close(w)
        stream.close()


def test_json_float_split_after_decimal_point(tmp_path):
    """raw_decode matches the longest valid numeric PREFIX, so "0.0"
    split as "0."|"0" used to emit 0 and strand ".0" as EOF garbage
    (hypothesis-found).  The continuation-character deferral keeps the
    whole float in the carry until it terminates."""
    import json as _json

    from kinesis_log_streamer_spark.streaming.stdin_spool import (
        StdinSpooler,
    )

    cases = [
        ([b'{"a":1}\r\n0.', b"0"], [{"a": 1}, 0.0]),
        ([b"12.5e", b"-3 true"], [12.5e-3, True]),
        ([b"7", b".25 8", b"e2"], [7.25, 800.0]),
    ]
    for i, (pieces, want) in enumerate(cases):
        d = tmp_path / f"c{i}"
        d.mkdir()
        sp = StdinSpooler(ChunkedStream(list(pieces)), str(d), fmt="json")
        n = sp.run()
        got = []
        for f in sorted(os.listdir(d)):
            with open(d / f, encoding="utf-8") as fh:
                got += [_json.loads(x) for x in fh.read().splitlines()]
        assert got == want, (pieces, got)
        assert n == len(want)


def _pq(name: str) -> pd.DataFrame:
    return pd.read_parquet(f"{SF_SMOKE}/{name}.parquet")


class TestLiveSpoolStream:
    def test_matches_python_recompute(self, spark):
        ev = _pq("events")
        ev = ev[ev["event_id"] % 9 == 0]
        exp = []
        for et, g in ev.groupby("event_type"):
            exp.append(
                (
                    str(et),
                    len(g),
                    int(g["event_id"].min()),
                    int(g["event_id"].max()),
                    round(float(g["value"].sum()), 2),
                )
            )
        exp.sort()
        got = [
            (r.event_type, r.n_records, r.min_id, r.max_id, r.sum_value)
            for r in Q.i08_live_spool_stream(spark, SF_SMOKE).collect()
        ]
        assert got == exp

    def test_cli_and_i08_send_through_one_loop(self, spark, monkeypatch):
        """``cli.run_streaming`` and i08 both send through
        ``stdin_spool.send_batches``; i08 starts no ``StreamingQuery``
        and takes at least two batches at sf0.001."""
        from pyspark.sql.streaming import DataStreamWriter

        from kinesis_log_streamer_spark import cli
        from kinesis_log_streamer_spark.streaming import stdin_spool

        loops = []
        send_batches = stdin_spool.send_batches

        def recording(spooler, session, build, sink):
            epochs = []
            loops.append(epochs)

            class CountingSink:
                def write_batch(self, df, epoch_id):
                    epochs.append(epoch_id)
                    sink.write_batch(df, epoch_id)

            send_batches(spooler, session, build, CountingSink())

        started = []
        monkeypatch.setattr(stdin_spool, "send_batches", recording)
        monkeypatch.setattr(
            DataStreamWriter, "start", lambda self, *a, **kw: started.append(self)
        )
        assert Q.i08_live_spool_stream(spark, SF_SMOKE).collect()
        assert started == [] and spark.streams.active == []
        assert len(loops) == 1 and len(loops[0]) >= 2, loops
        args = cli.build_parser().parse_args(["--dry-run", "Stream"])
        assert cli.run_streaming(args, {}, "string", ChunkedStream([b"a\n"])) == 0
        assert len(loops) == 2 and loops[1] == [0], loops
