"""Ingest-parity transforms: the reference's record pipeline as DataFrame ops.

Reference behaviors reproduced (citations into /root/reference):

* F1 empty-record filter        — linestreamer.go:86
* T1 line passthrough           — linestreamer.go:89-90
* T2 line→JSON wrap             — linestreamer.go:39-45,92-99 (default
                                  output key "LogEntry", main.go:68)
* T3 JSON re-serialization      — jsonstreamer.go:58-62
* T4 static-column enrichment   — linestreamer.go:41-45, jsonstreamer.go:49-56
                                  (added entries OVERWRITE same-named keys;
                                  objects-only in JSON mode)
* E1 partition-key stamp        — linestreamer.go:102, jsonstreamer.go:66
* sink-record contract          — kinesis.PutRecordsRequestEntry{Data,
                                  PartitionKey}, linestreamer.go:100-103

All are pure column expressions — JVM-side, inside whole-stage codegen;
no Python in the hot path.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_OUTPUT_KEY = "LogEntry"  # main.go:68


def filter_empty_lines(df: DataFrame, col: str = "value") -> DataFrame:
    """F1: drop zero-length lines (linestreamer.go:86)."""
    return df.filter(F.length(F.col(col)) > 0)


def strip_cr(df: DataFrame, col: str = "value") -> DataFrame:
    """S2 CRLF handling: strip one trailing CR (linestreamer.go:64-69)."""
    return df.withColumn(col, F.regexp_replace(F.col(col), "\r$", ""))


def line_passthrough(df: DataFrame, col: str = "value") -> DataFrame:
    """T1: raw line bytes are the payload, unmodified (linestreamer.go:89-90)."""
    return df.select(F.col(col).alias("data"))


def wrap_line_as_json(
    df: DataFrame,
    col: str = "value",
    output_key: str = DEFAULT_OUTPUT_KEY,
    entries: Mapping[str, str] | None = None,
) -> DataFrame:
    """T2+T4: wrap each line as ``{output_key: line, **entries}``.

    Mirrors linestreamer.go:92-99; additional entries are constant string
    columns (T4). Field order matches the reference's observable output:
    output key first, then entries in insertion order.
    """
    fields: list[Column] = [F.col(col).alias(output_key)]
    fields += [F.lit(v).alias(k) for k, v in (entries or {}).items()]
    return df.select(F.to_json(F.struct(*fields)).alias("data"))


def enriched_json_col(col: str = "value", entries: Mapping[str, str] | None = None) -> Column:
    """T4 (JSON mode) + T3 as a single column expression: merge static
    entries into *object* records only, then re-serialize.

    Scalars/arrays pass through un-enriched (jsonstreamer.go:49-56); an
    added entry overwrites a same-named key already present
    (jsonstreamer.go:52-54).  Implemented JVM-side on
    ``map<string,variant>`` so the round trip preserves value TYPES —
    numbers stay numbers, booleans stay booleans, nested objects/arrays
    keep their structure — matching the reference's
    ``json.Unmarshal → Marshal`` of ``interface{}``
    (jsonstreamer.go:42-62).  A ``map<string,string>`` parse would
    stringify ``{"Status":200,"nested":{"a":1}}`` into
    ``{"Status":"200","nested":"{\\"a\\":1}"}`` — silently corrupting
    typical typed log records (the README's own Apache LogFormat emits
    numeric fields).  ``map_zip_with``'s coalesce gives entry-map-wins
    overwrite; merged keys keep the original object's position, new
    keys append — byte-compatible with RFC 7386 merge-patch for
    string-valued patches.
    """
    import json

    entries = dict(entries or {})
    is_object = F.trim(F.col(col)).startswith("{")
    parsed = F.from_json(F.col(col), "map<string,variant>")
    if not entries:
        return F.when(is_object, F.to_json(parsed)).otherwise(F.col(col)).alias("data")
    # Reference entries are strings (main.go:102,120) → string variants.
    entry_map = F.create_map(
        *[
            x
            for k, v in entries.items()
            for x in (F.lit(k), F.parse_json(F.lit(json.dumps(str(v)))))
        ]
    )
    # map_zip_with: value from entry_map wins on key collision (overwrite
    # semantics of jsonstreamer.go:52-54).
    merged = F.map_zip_with(parsed, entry_map, lambda _k, v1, v2: F.coalesce(v2, v1))
    return F.when(is_object, F.to_json(merged)).otherwise(F.col(col)).alias("data")


def enrich_json_objects(
    df: DataFrame,
    col: str = "value",
    entries: Mapping[str, str] | None = None,
) -> DataFrame:
    """DataFrame form of :func:`enriched_json_col` (T3+T4)."""
    return df.select(enriched_json_col(col, entries))


def stamp_partition_key(df: DataFrame, partition_key: str) -> DataFrame:
    """E1: stamp the host-identity partition key on every record
    (linestreamer.go:102, jsonstreamer.go:66)."""
    return df.withColumn("partitionKey", F.lit(partition_key))


def to_sink_records(df: DataFrame, partition_key: str) -> DataFrame:
    """Produce the canonical sink contract: (data, partitionKey)
    (kinesis.PutRecordsRequestEntry — linestreamer.go:100-103)."""
    out = df if "data" in df.columns else df.select(F.col(df.columns[0]).alias("data"))
    return stamp_partition_key(out.select("data"), partition_key)
