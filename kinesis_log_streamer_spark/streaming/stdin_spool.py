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
(jsonstreamer.go:42-62) — so the query only stamps the partition key.
`spark.readStream.format("text")` tails the directory and the
micro-batch trigger cadence is the flush-on-idle timer.  A byte budget
per micro-batch (``maxBytesPerTrigger``) bounds one batch's intake;
it does NOT bound the spool, which lands whatever stdin delivers
however far the query lags.

EOF is exact (:func:`drain_and_stop`): once the spooler has landed its
last file, one ``processAllAvailable`` returns only after a source
listing taken after that file landed found nothing left to commit,
and the query is stopped then — no idle window.

Memory bound: one chunk + one partial record — never the full input.
A malformed JSON value ends the spool as soon as it is read, after the
values before it have landed (jsonstreamer.go:44-45); it is never
carried while more input piles up behind it.
"""

from __future__ import annotations

import codecs
import os
import threading
import uuid
from collections.abc import Mapping

from kinesis_log_streamer_spark.sources.json_source import (
    ConcatenatedJsonError,
    split_json_values,
)

CHUNK_BYTES = 65536  # the reference's read size, linestreamer.go:34


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
    place: the file streaming source lists only completed files, so a
    half-written chunk can never enter a micro-batch.  File names are
    zero-padded sequence numbers — lexicographic order IS arrival
    order.
    """

    def __init__(
        self,
        stream,
        landing_dir: str,
        fmt: str = "line",
        chunk_bytes: int = CHUNK_BYTES,
        entries: Mapping[str, str] | None = None,
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
        name = f"part-{self._seq:06d}.txt"
        tmp = os.path.join(self._dir, f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "w", encoding="utf-8") as fh:
            fh.write("\n".join(records) + "\n")
        os.rename(tmp, os.path.join(self._dir, name))
        self._seq += 1
        self.n_records += len(records)
        self.n_files += 1

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
            # Surface the failure AND unblock drain_and_stop — a dead
            # spool thread that never set `done` would park the drain
            # loop forever (it has no timeout).
            self.error = exc
            raise
        finally:
            self.done.set()

    def _run(self) -> int:
        os.makedirs(self._dir, exist_ok=True)
        take = self._take_lines if self._fmt == "line" else self._take_json_values
        # read1 (BufferedReader, e.g. sys.stdin.buffer) returns as soon
        # as ANY bytes are available; plain read(n) on a buffered pipe
        # BLOCKS until n bytes or EOF, which would stall a quiet log
        # pipe until 64 KiB accumulated and defeat flush-on-idle
        # (basestreamer.go:42-46).  Raw/test streams fall back to read.
        read = getattr(self._stream, "read1", None) or self._stream.read
        while True:
            chunk = read(self._chunk)
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


def drain_and_stop(query, spooler: StdinSpooler) -> None:
    """Stop a streaming query once every record the spooler landed is
    committed — the EOF drain of the reference's flush-on-idle-or-EOF
    contract (basestreamer.go:27-46).

    Waits for ``spooler.done`` while the query is active, then calls
    ``query.processAllAvailable()`` once.  Spark lists the source and
    records "no new data" under the same lock under which that call
    resets the flag, and ``done`` is set only after the final rename,
    so the call returns once a listing that saw the last landed file
    has nothing left to commit.  A query that dies while stdin is still
    open (a sink failure on a pipe that never EOFs) ends the wait and
    its cause is re-raised; the query is stopped on every exit.
    """
    try:
        while query.isActive and not spooler.done.wait(0.2):
            pass
        if query.isActive:
            query.processAllAvailable()
    finally:
        query.stop()
    exc = query.exception()
    if exc is not None:
        raise exc
