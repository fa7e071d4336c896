"""Chunked stdin → landing-dir spool: the CLI's data path.

The reference never buffers its input: it reads stdin in 64 KiB
chunks (linestreamer.go:34), carries the trailing partial record
across chunk boundaries (linestreamer.go:49-57), and ships complete
records downstream through a bounded (cap-5) channel
(linestreamer.go:37) with flush-on-idle (basestreamer.go:42-46).

This module is the Spark-native equivalent of that loop: a spooler
thread reads stdin chunk-by-chunk, extracts COMPLETE records (lines,
or concatenated-JSON values via ``json_source.split_json_values``, the
engine's one JSON splitter), and lands each chunk's records as one
atomically-renamed file in a landing directory.  JSON values given the
CLI's ``-I`` entry map land sink-ready — merged and serialized once by
``json_source.render_record``, as the reference does per value
(jsonstreamer.go:42-62) — so Spark only stamps the partition key.

Hand-over (the reference's flush-on-idle, basestreamer.go:42-46):
landed files are held until the spooler hands them to its consumer
(:meth:`StdinSpooler.take`), which it does when a zero-timeout poll of
the stream's fd finds no more input ready (after a backlog-sized read
the poll waits ``BACKLOG_GRACE_MS``), at EOF or a spool error, or once
the held bytes reach ``batch_bytes``.  A stream without a
``fileno`` hands over after every landed file.  Each take becomes
one Spark batch (:func:`send_batches`), so a queued backlog drains in
one batch and a lone record is sent as soon as stdin goes quiet.
That pays
while input comes as a backlog or with gaps longer than one batch's
fixed cost.  A steady stream of single-line writes finds stdin quiet
between almost every line, so the consumer sends batches back to back,
each of a few records: lower latency, but more CPU and PutRecords
calls per record than fewer, larger batches would take.

Bounded (the reference's cap-5 channel, linestreamer.go:37): with
``batch_bytes`` set, the spooler stops reading while the landed bytes
its consumer has not released (:meth:`StdinSpooler.release`) exceed
``2 × batch_bytes``, having handed over what it holds first, so a
stalled sink slows the producer instead of filling the disk.

One consumer (the reference's one goroutine, linestreamer.go:34-57):
:func:`send_batches` turns each take into one ``spark.read.text``
batch → records builder → ``sink.write_batch`` → the batch's files
deleted → :meth:`StdinSpooler.release`, until the spool has ended and
every landed file was sent.  Only this module knows that
take/delete/release protocol; the CLI (``cli.run_streaming``) and the
i08 registry query both call :func:`send_batches`.

Memory bound: one chunk + one partial record — never the full input.
A malformed JSON value ends the spool as soon as it is read, after the
values before it have landed (jsonstreamer.go:44-45); it is never
carried while more input piles up behind it.
"""

from __future__ import annotations

import codecs
import os
import select
import threading
import uuid
from collections.abc import Mapping

from kinesis_log_streamer_spark.sources.json_source import (
    ConcatenatedJsonError,
    split_json_values,
)

CHUNK_BYTES = 65536  # the reference's read size, linestreamer.go:34

# After a read of at least half a chunk (input outran the spooler: a
# backlog), how long the idle poll waits for the producer to refill
# the pipe.  A producer descheduled for a few ms mid-backlog otherwise
# splits the backlog into two batches, and a batch's fixed cost is
# ~0.15-0.3 s; a trickle's short reads keep the zero-timeout poll.
# Both values were set against one producer (64 KiB backlog writes).
BACKLOG_GRACE_MS = 20


class StdinSpooler:
    """Reads a byte stream in bounded chunks and lands complete
    records as ordered files.

    ``fmt='line'``  → records are LF-terminated lines (CR stripped by
    the downstream pipeline, not here — transform parity).
    ``fmt='json'``  → records are concatenated JSON values
    (jsonstreamer.go:34-49): ``json_source.split_json_values`` splits
    complete values off the carry buffer; each non-null one is landed
    as one line of ``json_source.render_record(value, entries)``, so
    the landing files are JSONL regardless of how values were
    separated on the wire.  With the CLI's ``-I`` map as ``entries``
    (possibly empty) each line is the sink-ready record;
    ``entries=None`` lands plain compact JSON for a later enrichment
    stage.

    Files are written to ``<dir>/.tmp-*`` then ``os.rename``d into
    place.  The consumer only reads files :meth:`take` handed it, but a
    watcher that lists ``part-*`` while files land (perfbench's
    ``LandingWatcher``) must never see a half-written one.  File names
    are zero-padded sequence numbers — lexicographic order IS arrival
    order.

    ``batch_bytes`` sizes a take (at most that many bytes, always at
    least one file) and bounds the spool at twice that many unreleased
    bytes; ``None`` leaves both unbounded.
    """

    def __init__(
        self,
        stream,
        landing_dir: str,
        fmt: str = "line",
        chunk_bytes: int = CHUNK_BYTES,
        entries: Mapping[str, str] | None = None,
        batch_bytes: int | None = None,
    ) -> None:
        if fmt not in ("line", "json"):
            raise ValueError(f"fmt must be line|json, got {fmt!r}")
        self._stream = stream
        self._dir = landing_dir
        self._fmt = fmt
        self._chunk = chunk_bytes
        self._entries = entries
        self._seq = 0
        self._carry = ""
        # Incremental UTF-8: a chunk boundary can split a multibyte
        # character (inevitable with fixed-size reads); decoding each
        # chunk independently would mangle both halves into U+FFFD.
        # The incremental decoder carries the partial sequence, the
        # byte-level twin of the partial-record carry.
        self._utf8 = codecs.getincrementaldecoder("utf-8")("replace")
        self.n_records = 0
        self.n_files = 0
        self.done = threading.Event()
        self.error: BaseException | None = None
        # Hand-over state, guarded by _cond: landed files not handed
        # over yet (held), handed over but not taken (ready), and the
        # landed bytes the consumer has not released (unsent).
        self._cond = threading.Condition()
        self._held: list[tuple[str, int]] = []
        self._held_bytes = 0
        self._ready: list[tuple[str, int]] = []
        self._unsent = 0
        self._batch_bytes = batch_bytes
        self._max_unsent = None if batch_bytes is None else 2 * batch_bytes
        self._closed = False
        self._poll = _input_poll(stream)

    # -- record extraction -------------------------------------------------

    def _take_lines(self) -> list[str]:
        """Split the carry at the LAST newline; the tail stays carried
        (linestreamer.go:49-57's partial-record rule)."""
        nl = self._carry.rfind("\n")
        if nl < 0:
            return []
        complete, self._carry = self._carry[:nl], self._carry[nl + 1 :]
        return complete.split("\n")

    def _take_json_values(self, final: bool = False) -> list[str]:
        """Split the complete JSON values off the carry
        (``json_source.split_json_values``); a value a chunk boundary
        cuts off stays carried until the next chunk, or EOF
        (``final``), completes it.  A malformed value raises at once,
        after the values before it have landed."""
        try:
            records, self._carry = split_json_values(
                self._carry, final, self._entries
            )
        except ConcatenatedJsonError as exc:
            self._land(exc.records)
            raise
        return records

    # -- landing -----------------------------------------------------------

    def _land(self, records: list[str]) -> None:
        if not records:
            return
        path = os.path.join(self._dir, f"part-{self._seq:06d}.txt")
        tmp = os.path.join(self._dir, f".tmp-{uuid.uuid4().hex}")
        data = ("\n".join(records) + "\n").encode("utf-8")
        with open(tmp, "wb") as fh:
            fh.write(data)
        os.rename(tmp, path)
        self._seq += 1
        self.n_records += len(records)
        self.n_files += 1
        with self._cond:
            self._held.append((path, len(data)))
            self._held_bytes += len(data)
            self._unsent += len(data)

    # -- hand-over ---------------------------------------------------------

    def _hand_over(self) -> None:
        """Make every held file takeable; the caller holds ``_cond``."""
        if self._held:
            self._ready += self._held
            self._held = []
            self._held_bytes = 0
            self._cond.notify_all()

    def _before_read(self, last_read: int) -> bool:
        """Hand over the held files unless more input is ready and they
        are under ``batch_bytes``; then wait while the unreleased bytes
        exceed the bound.  False once the consumer has closed."""
        grace = BACKLOG_GRACE_MS if last_read >= self._chunk // 2 else 0
        idle = self._poll is None or (
            bool(self._held) and not self._poll.poll(grace)
        )
        with self._cond:
            full = (
                self._batch_bytes is not None
                and self._held_bytes >= self._batch_bytes
            )
            if idle or full:
                self._hand_over()
            cap = self._max_unsent
            while cap is not None and self._unsent > cap and not self._closed:
                # Waiting on held files would wait forever.
                self._hand_over()
                self._cond.wait()
            return not self._closed

    def take(self) -> list[tuple[str, int]] | None:
        """The next handed-over files as ``(path, bytes)`` in landing
        order, at most ``batch_bytes`` of them (always at least one
        file); blocks until there are some.  ``None`` once the spool has
        ended and every landed file was taken."""
        with self._cond:
            self._cond.wait_for(lambda: self._ready or self.done.is_set())
            if not self._ready:
                return None
            n, size = 1, self._ready[0][1]
            limit = self._batch_bytes
            while n < len(self._ready) and (
                limit is None or size + self._ready[n][1] <= limit
            ):
                size += self._ready[n][1]
                n += 1
            taken, self._ready = self._ready[:n], self._ready[n:]
            return taken

    def release(self, files: list[tuple[str, int]]) -> None:
        """The consumer is done with ``files`` (sent and deleted): their
        bytes no longer count against the bound."""
        with self._cond:
            self._unsent -= sum(size for _, size in files)
            self._cond.notify_all()

    def close(self) -> None:
        """The consumer stops taking: a spooler waiting for room stops
        reading instead."""
        with self._cond:
            self._closed = True
            self._cond.notify_all()

    # -- main loop ---------------------------------------------------------

    def run(self) -> int:
        """Consume the stream to EOF; returns the record count.

        One landing file per chunk that completed >= 1 record — the
        spool-side flush-on-idle: a short read (interactive pipe going
        quiet) still lands immediately instead of waiting to fill a
        buffer."""
        try:
            return self._run()
        except BaseException as exc:
            # Surface the failure AND unblock take() — a dead spool
            # thread that never set `done` would park its consumer
            # forever (take has no timeout).
            self.error = exc
            raise
        finally:
            with self._cond:
                self._hand_over()
                self.done.set()
                self._cond.notify_all()

    def _run(self) -> int:
        os.makedirs(self._dir, exist_ok=True)
        take = self._take_lines if self._fmt == "line" else self._take_json_values
        # read1 (BufferedReader, e.g. sys.stdin.buffer) returns as soon
        # as ANY bytes are available; plain read(n) on a buffered pipe
        # BLOCKS until n bytes or EOF, which would stall a quiet log
        # pipe until 64 KiB accumulated and defeat flush-on-idle
        # (basestreamer.go:42-46).  Raw/test streams fall back to read.
        read = getattr(self._stream, "read1", None) or self._stream.read
        got = 0
        while True:
            if not self._before_read(got):
                return self.n_records
            chunk = read(self._chunk)
            got = len(chunk)
            if not chunk:
                break
            if isinstance(chunk, bytes):
                chunk = self._utf8.decode(chunk)
            self._carry += chunk
            self._land(take())
        # EOF: flush any partial UTF-8 sequence (renders U+FFFD, like
        # a truncated pipe would), then the trailing partial line is
        # still a record (linestreamer.go:70-76); EOF terminates a
        # trailing bare number, and any other partial JSON value is an
        # error.
        self._carry += self._utf8.decode(b"", True)
        if self._fmt == "json":
            self._land(self._take_json_values(final=True))
        elif self._carry:
            # Land whatever trailed — even whitespace-only: dropping
            # empties is the pipeline's F1 filter's call, not ours.
            self._land([self._carry])
        self._carry = ""
        return self.n_records

    def start_thread(self) -> threading.Thread:
        t = threading.Thread(
            target=self._run_in_thread, name="stdin-spool", daemon=True
        )
        t.start()
        return t

    def _run_in_thread(self) -> None:
        try:
            self.run()
        except Exception:  # noqa: BLE001
            # Already in `error`, which the thread's owner reports
            # after the drain; re-raising here would also print a
            # thread traceback through threading.excepthook.
            pass


def _input_poll(stream) -> select.poll | None:
    """A poll object on ``stream``'s fd, or None for a stream without
    one (its spooler then hands over after every landed file)."""
    try:
        fd = stream.fileno()
    except (AttributeError, OSError, ValueError):
        return None
    poll = select.poll()
    poll.register(fd, select.POLLIN)
    return poll


def send_batches(spooler: StdinSpooler, spark, build, sink) -> None:
    """Send everything ``spooler`` lands, one Spark batch per take:
    ``build(spark.read.text(paths))`` goes to ``sink.write_batch(df,
    epoch)``, numbered from 0, then the batch's files are deleted and
    released (which lets a spooler waiting at its bound read on).
    Returns once the spool has ended and every landed file was sent; a
    sink failure propagates with the unsent files still on disk."""
    for epoch, files in enumerate(iter(spooler.take, None)):
        paths = [path for path, _ in files]
        sink.write_batch(build(spark.read.text(paths)), epoch)
        for path in paths:
            os.remove(path)
        spooler.release(files)
