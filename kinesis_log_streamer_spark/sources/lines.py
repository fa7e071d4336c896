"""Line-record sources (reference S1+S2: stdin byte stream → line records).

The reference reads stdin in 64 KiB chunks and splits on ``\\n`` with
CRLF handling, partial-line carry-over, and empty-line dropping
(linestreamer.go:33-118).  Spark's text source implements the same
tokenization natively (newline split incl. CRLF, lines spanning read
buffers handled inside the reader), so the engine's line source is the
text source plus the F1 empty filter — the ``pending`` carry-over
state (linestreamer.go:18,71,83) has no user-visible equivalent to
reproduce.

The CLI reads stdin through ``streaming.stdin_spool``, whose landing
files a streaming text source tails.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from kinesis_log_streamer_spark.operators.transforms import (
    filter_empty_lines,
    strip_cr,
)


def read_lines(spark: SparkSession, path: str) -> DataFrame:
    """Batch line source: one row per non-empty line (S2+F1)."""
    df = spark.read.text(path)
    return filter_empty_lines(strip_cr(df))
