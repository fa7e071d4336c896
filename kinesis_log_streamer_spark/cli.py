"""CLI mirroring the reference's option surface (C1-C3, main.go:62-171).

Same flags, same validation, same exit codes:

* ``-f/--format {line,json}``       input format (default line)
* ``-F/--output-format {auto,json,string}`` (default auto; auto→json
  for json input, →string for line input — C2, main.go:93-99)
* ``-k/--output-key KEY``           wrap key (default LogEntry)
* ``-I/--add-entry K=V``            repeatable static entries; ``=``
  required, duplicate keys rejected (main.go:103-122)
* ``-r/--region`` / ``-p/--profile`` AWS session config (C3)
* exactly one positional stream name (main.go:124-136)
* usage errors → exit 2 with usage on stderr (main.go:22-55)

Data path, the same for a never-EOF Apache pipe and a finite file:
stdin is read in 64 KiB chunks from the first instant (while the
session is still starting) and spooled to a landing dir
(``streaming/stdin_spool.py``).  The spooler hands its landed files
over as soon as stdin goes quiet (flush-on-idle, basestreamer.go:42-46),
and each hand-over becomes one Spark batch → transform/enrich →
partition-key stamp → Kinesis sink (or ``--dry-run`` → records to
stdout); EOF ends the run once the last landed file is sent.  The
partition key is the host identity, resolved once on the driver while
the session starts (``hostid.get_host_id``; one key per process,
linestreamer.go:102).  JSON records are split, enriched
and serialized by the stdin splitter itself
(``json_source.split_json_values``), so Spark only stamps their key.
A malformed JSON value — a value that does not decode, or a separator
other than space, tab, LF or CR — exits 1 as soon as it is read, after
the records before it were sent, even while stdin stays open
(jsonstreamer.go:44-45).

Record order: every record is sent exactly once, and the records of
one landed file (one stdin read) stay contiguous and in input order.
Across the files of one batch order is not kept: the file source packs
a batch's files into splits by size.
"""

from __future__ import annotations

import argparse
import sys
from collections.abc import Sequence
from concurrent.futures import ThreadPoolExecutor

from kinesis_log_streamer_spark.hostid import get_host_id

# Intake per batch, in landed spool bytes: a queued backlog drains in
# one batch (paying Spark's fixed per-batch cost once), while a
# trickle is sent whenever stdin goes quiet.  The spooler stops reading
# stdin while more than twice this many landed bytes are unsent.
MAX_BYTES_PER_TRIGGER = 64 * 2**20

# Above this many files, Spark lists a batch's input with a separate
# distributed job.  The landing dir is always local, where a stat per
# file on the driver is cheaper than a job at any batch size.
_DISCOVERY_THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="kinesis-log-streamer-spark",
        description="Stream log entries from stdin to Kinesis via Spark.",
    )
    p.add_argument("-f", "--format", choices=["line", "json"], default="line")
    p.add_argument(
        "-F",
        "--output-format",
        choices=["auto", "json", "string"],
        default="auto",
    )
    p.add_argument("-k", "--output-key", default="LogEntry")
    p.add_argument(
        "-I",
        "--add-entry",
        action="append",
        default=[],
        metavar="KEY=VALUE",
    )
    p.add_argument("-r", "--region", default=None)
    p.add_argument("-p", "--profile", default=None)
    p.add_argument("--dry-run", action="store_true", help="print records instead of Kinesis")
    p.add_argument(
        "--delivery",
        choices=["at_least_once", "at_most_once"],
        default="at_least_once",
        help=(
            "delivery guarantee: at_least_once retries failed records "
            "(engine default); at_most_once is strict reference parity "
            "— one PutRecords call, no retry, log-and-drop "
            "(basestreamer.go:64-87)"
        ),
    )
    # Accepted and ignored: every invocation streams.
    p.add_argument("--streaming", action="store_true", help=argparse.SUPPRESS)
    p.add_argument("stream_name", nargs="*")
    return p


def parse_entries(pairs: list[str], parser: argparse.ArgumentParser) -> dict[str, str]:
    """--add-entry validation: '=' required, duplicate keys rejected
    (main.go:103-122)."""
    entries: dict[str, str] = {}
    for pair in pairs:
        if "=" not in pair:
            parser.exit(2, f"invalid --add-entry (missing '='): {pair}\n")
        k, v = pair.split("=", 1)
        if k in entries:
            parser.exit(2, f"duplicate --add-entry key: {k}\n")
        entries[k] = v
    return entries


def resolve_output_format(fmt: str, output_format: str) -> str:
    """C2: auto → json for json input, string for line input
    (main.go:93-99)."""
    if output_format != "auto":
        return output_format
    return "json" if fmt == "json" else "string"


def build_records(args, values, entries, output_format, host_id):
    """One batch's input rows (column ``value``) → sink records
    ``(data, partitionKey)``.

    The partition key is ``host_id``, the host identity
    ``run_streaming`` resolved once on the driver.  JSON values arrive
    sink-ready from the splitter (the ``-I`` merge and serialization
    are done, ``json_source.render_record``), so they only get the key;
    lines take the line pipeline."""
    from kinesis_log_streamer_spark.operators.transforms import to_sink_records
    from kinesis_log_streamer_spark.streaming.pipeline import build_line_pipeline

    if args.format == "json":
        return to_sink_records(values, host_id)
    return build_line_pipeline(
        values, output_format, args.output_key, entries, host_id=host_id
    )


def run_streaming(args, entries, output_format, stream) -> int:
    """The CLI's data path (C1 parity with the reference's loop,
    linestreamer.go:34-57, basestreamer.go:27-46): chunked ``stream``
    → landing-dir spool → ``stdin_spool.send_batches``, one
    ``spark.read.text`` batch per hand-over → key stamp (JSON records
    land sink-ready; lines take the line pipeline) → sink → the
    batch's files deleted, until EOF.

    The spooler hands its landed files over when the stream has no
    more input ready, at EOF or a spool error, or once
    ``MAX_BYTES_PER_TRIGGER`` bytes are held, so a queued backlog is one
    batch and a record from a quiet pipe is sent at once
    (basestreamer.go:42-46).  The full input is NEVER held in one
    string: the spooler carries at most one 64 KiB chunk plus one
    partial record, a batch takes at most ``MAX_BYTES_PER_TRIGGER``
    bytes of files (always at least one file), and the spooler stops
    reading while twice that many bytes are unsent
    (`streaming/stdin_spool.py`).  No checkpoint is kept: a sink
    failure ends the run non-zero.  The spool's temp dir is removed on
    every exit."""
    import os
    import shutil
    import tempfile

    from kinesis_log_streamer_spark.session import get_spark
    from kinesis_log_streamer_spark.streaming.stdin_spool import (
        StdinSpooler,
        send_batches,
    )

    # stdin is read from the first instant and the host identity (up
    # to two metadata-probe timeouts off AWS) resolves while the
    # session starts: a piped logger is never blocked behind JVM
    # start-up, and the first batch waits for neither.
    work = tempfile.mkdtemp(prefix="klss-spool-")
    landing = os.path.join(work, "landing")
    spooler = spark = threshold = None
    try:
        os.makedirs(landing)
        spooler = StdinSpooler(
            stream,
            landing,
            fmt=args.format,
            entries=entries,
            batch_bytes=MAX_BYTES_PER_TRIGGER,
        )
        spooler.start_thread()
        with ThreadPoolExecutor(1, thread_name_prefix="host-id") as pool:
            host_id = pool.submit(get_host_id, probe_network=not args.dry_run)
            spark = get_spark("kinesis-log-streamer-cli")
        sink = _make_sink(args)
        threshold = spark.conf.get(_DISCOVERY_THRESHOLD)
        spark.conf.set(_DISCOVERY_THRESHOLD, str(2**31 - 1))
        key = host_id.result()
        send_batches(
            spooler,
            spark,
            lambda values: build_records(args, values, entries, output_format, key),
            sink,
        )
    finally:
        if spooler is not None:
            spooler.close()
        if threshold is not None:
            spark.conf.set(_DISCOVERY_THRESHOLD, threshold)
        shutil.rmtree(work, ignore_errors=True)
    if spooler.error is not None:
        print(f"stdin spool failed: {spooler.error}", file=sys.stderr)
        return 1
    return 0


def _make_sink(args):
    """``--dry-run`` prints each record as ``key<TAB>data``; otherwise
    the records go to the named Kinesis stream."""
    if args.dry_run:

        class _StdoutSink:
            def write_batch(self, df, epoch_id):
                for row in df.collect():
                    print(f"{row['partitionKey']}\t{row['data']}")

        return _StdoutSink()
    from kinesis_log_streamer_spark.streaming.kinesis_sink import KinesisSink

    return KinesisSink(
        args.stream_name[0],
        region=args.region,
        profile=args.profile,
        delivery=args.delivery,
    )


def main(argv: Sequence[str] | None = None) -> int:
    parser = build_parser()
    args = parser.parse_args(argv)
    if len(args.stream_name) != 1:
        parser.print_usage(sys.stderr)
        return 2
    entries = parse_entries(args.add_entry, parser)
    output_format = resolve_output_format(args.format, args.output_format)
    return run_streaming(args, entries, output_format, sys.stdin.buffer)


if __name__ == "__main__":
    sys.exit(main())
