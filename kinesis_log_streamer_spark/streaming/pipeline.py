"""End-to-end ingest pipelines: the reference's three entry points as
Spark dataflows, applied to each batch the CLI sends.

Entry points reproduced (SURVEY.md §3):
1. line → string passthrough        (main.go:62-170, T1)
2. JSON mode with enrichment        (jsonstreamer.go:34-81, T3+T4)
3. line → JSON wrap with entries    (linestreamer.go:92-99, T2+T4)

The CLI's JSON records land sink-ready: its stdin splitter
(``StdinSpooler`` → ``json_source.split_json_values``) applies T3+T4
while decoding, as the reference does (jsonstreamer.go:42-62), so the
CLI's Spark stage for entry point 2 is the E1 key stamp alone
(``transforms.to_sink_records``).  :func:`build_json_pipeline` is the
Spark-side form of the same merge, for values that arrive unenriched.

Streaming semantics mapping:
* flush-on-idle (B1) → the CLI (``cli.run_streaming``) runs no
  streaming query: its spooler hands landed files over as soon as a
  zero-timeout poll finds stdin quiet (a ``stdin_spool.BACKLOG_GRACE_MS``
  poll after a backlog-sized read), at EOF, or once
  ``cli.MAX_BYTES_PER_TRIGGER`` bytes are held, and each hand-over is
  one ``spark.read.text`` batch into the sink.  No Spark trigger can
  express "send when the channel is momentarily empty" (SURVEY §7
  risk 3).
* EOF drain (B1) → the CLI's loop (``stdin_spool.send_batches``) ends
  once the spooler has handed over its last file and that batch is
  sent; ``Trigger.AvailableNow`` drains input already present at
  start, for the registry's queries over sources that do not grow.
* bounded channel → the CLI's spooler stops reading stdin while more
  than ``2 × cli.MAX_BYTES_PER_TRIGGER`` landed bytes are unsent, and
  one batch takes at most ``cli.MAX_BYTES_PER_TRIGGER`` bytes of files
  (always at least one); the spooler holds at most one chunk and one
  partial record in memory, and stops at the first malformed JSON
  value.
* per-host partition key → one key per process, resolved once on the
  driver (every executor of the ``local[N]`` session runs on the
  driver's host) and stamped as a constant ``partitionKey`` column;
  the sink puts a batch from the driver in partition order, so one
  landed file's records stay together and in order.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import DataFrame, SparkSession

from kinesis_log_streamer_spark.operators.transforms import (
    enrich_json_objects,
    filter_empty_lines,
    line_passthrough,
    strip_cr,
    to_sink_records,
    wrap_line_as_json,
)


def build_line_pipeline(
    lines: DataFrame,
    output_format: str = "string",
    output_key: str = "LogEntry",
    entries: Mapping[str, str] | None = None,
    *,
    host_id: str,
) -> DataFrame:
    """Entry points 1 & 3: line records → sink records.

    ``output_format='string'`` → T1 passthrough;
    ``'json'`` → T2 wrap + T4 enrichment.  E1 stamps ``host_id`` (the
    caller's resolved host identity) as every record's partition key.
    """
    clean = filter_empty_lines(strip_cr(lines))
    if output_format == "json":
        projected = wrap_line_as_json(clean, "value", output_key, entries)
    else:
        projected = line_passthrough(clean)
    return to_sink_records(projected, host_id)


def build_json_pipeline(
    values: DataFrame,
    entries: Mapping[str, str] | None,
    host_id: str,
) -> DataFrame:
    """Entry point 2: JSON value records → enriched sink records
    (F2 null skip + T4 objects-only enrichment + T3 re-serialize), keyed
    as in :func:`build_line_pipeline`."""
    nonnull = values.filter(values["value"].isNotNull()).filter(
        values["value"] != "null"
    )
    projected = enrich_json_objects(nonnull, "value", entries)
    return to_sink_records(projected, host_id)


def windowed_event_counts(
    events: DataFrame,
    window: str = "5 minutes",
    slide: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming windowed aggregation with late-data handling: the
    engine's requests-per-window primitive over the events stream."""
    from pyspark.sql import functions as F

    w = (
        F.window("ts", window, slide) if slide else F.window("ts", window)
    )
    return (
        events.withWatermark("ts", watermark)
        .groupBy(w, "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("v"))
    )


def events_ts_stored_as_nanos(src_path: str) -> bool:
    """Probe the parquet footer: does ``ts`` carry TIMESTAMP(NANOS)?

    Spark's vectorized reader rejects nano timestamps (they must be
    read as long via ``legacy.parquet.nanosAsLong``), while micro/milli
    timestamps read natively.  The driver's generated data has shipped
    both encodings across rounds, so every events reader probes instead
    of assuming."""
    import os

    import pyarrow.parquet as pq

    # Spark-written tables are DIRECTORIES of part files (the 10x
    # scalecheck replica is one); every part shares the writer's
    # schema, so probing any one footer is authoritative.
    if os.path.isdir(src_path):
        parts = sorted(
            f
            for f in os.listdir(src_path)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
        if not parts:
            return False
        src_path = os.path.join(src_path, parts[0])
    # The check must read the PARQUET schema, not the arrow view:
    # pyarrow surfaces INT96 (Spark's default timestamp encoding) as
    # timestamp[ns] too, but INT96 reads natively in Spark — only a
    # true INT64/TIMESTAMP(NANOS) column needs nanosAsLong.
    sch = pq.ParquetFile(src_path).schema
    col = sch.column(sch.names.index("ts"))
    if col.physical_type != "INT64":
        return False
    return "nano" in str(col.logical_type).lower()


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source streaming twin of the events table (for tests: a
    bounded directory drained with AvailableNow)."""
    import os

    from pyspark.sql import functions as F

    # Pin the timezone like sources/tables.py:load_table — timestamps
    # must be oracle-comparable from a bare driver session too.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if events_ts_stored_as_nanos(os.path.join(sf_dir, "events.parquet")):
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        schema = (
            "event_id long, ts long, user_id long, event_type string, "
            "value double, props string"
        )
        raw = (
            spark.readStream.schema(schema)
            .format("parquet")
            .option("basePath", sf_dir)
            .load(f"{sf_dir}/events*.parquet")
        )
        return raw.withColumn(
            "ts", F.timestamp_micros(F.expr("ts DIV 1000"))
        )
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    return (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("basePath", sf_dir)
        .load(f"{sf_dir}/events*.parquet")
    )
