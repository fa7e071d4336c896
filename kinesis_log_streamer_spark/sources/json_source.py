"""Concatenated-JSON source (reference S3: jsonstreamer.go:34-81).

The reference decodes one top-level JSON value at a time from the
stream — objects, arrays, or scalars, separated by arbitrary
whitespace *or nothing at all* — and stops at the first malformed
value (jsonstreamer.go:40-46).

Spark's JSON reader assumes JSON-lines (or one multiLine document), so
true concatenated JSON needs a pre-splitter: we read whole files
(``wholetext``) and split each into top-level values with an
incremental ``json.JSONDecoder.raw_decode`` loop inside
``mapInPandas`` — Arrow-batched, one Python pass per file, not per
record. JSON-lines input short-circuits to the native text source.

Semantics reproduced:
* one record per top-level value, any separation     (jsonstreamer.go:40-46)
* top-level ``null`` skipped (F2)                    (jsonstreamer.go:48)
* strict mode: stop at first malformed value, error  (jsonstreamer.go:44-45;
  main.go:165-168); permissive mode keeps prior records and skips the
  rest of that file (engine extension, SURVEY §7 risk 2)
* non-finite numbers (``NaN``, ``Infinity``, ``1e400``) are malformed
  JSON (RFC 8259 §6), as in Go's decoder

Both splitters — :func:`split_concatenated_json` (files, via
:func:`read_concatenated_json`) and ``streaming.stdin_spool.
StdinSpooler`` (the CLI's stdin) — turn each decoded value into its
record text with :func:`render_record`.  Given the CLI's ``-I`` entry
map the spooler renders the record SINK-READY (T3+T4,
jsonstreamer.go:49-62), so Spark only stamps the partition key.
"""

from __future__ import annotations

import json
import re
from collections.abc import Iterator, Mapping

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class ConcatenatedJsonError(ValueError):
    """Raised in strict mode when a malformed top-level value is hit."""


_COMPACT = (",", ":")
# Spark's variant holds ints of up to 38 digits as decimals, longer
# ones as doubles.
_DECIMAL38 = 10**38
# Python prints floats below 1e16 without an exponent.
_FIXED_FLOAT_MAX = 1e16
_SURROGATE = re.compile("[\ud800-\udfff]")
# A \u00XX escape that is not itself escaped (an even run of
# backslashes before it): Python prints its hex digits in lower case,
# Spark's JSON writer in upper case.
_CONTROL_ESCAPE = re.compile(r"(?<!\\)((?:\\\\)*)\\u00([01][0-9a-f])")


def _utf16_order(key: str) -> bytes:
    return key.encode("utf-16-be", "surrogatepass")


def _nested(value):
    """A value inside an object, as Spark prints it from a
    ``map<string,variant>`` (``transforms.enriched_json_col``): object
    keys sorted in UTF-16 order, integral fixed-notation floats as
    integers (``100.0`` → ``100``, ``-0.0`` → ``0``), ints beyond
    DECIMAL(38) as doubles."""
    t = type(value)
    if t is str or t is bool or value is None:
        return value
    if t is int:
        return value if -_DECIMAL38 < value < _DECIMAL38 else float(value)
    if t is float:
        if value.is_integer() and -_FIXED_FLOAT_MAX < value < _FIXED_FLOAT_MAX:
            return int(value)
        return value
    if t is list:
        return [_nested(v) for v in value]
    return {k: _nested(value[k]) for k in sorted(value, key=_utf16_order)}


def render_record(
    value, entries: Mapping[str, str] | None = None
) -> str | None:
    """The record text of one decoded top-level JSON value.

    * ``entries=None`` → the value's compact JSON, as landed for a
      Spark stage that filters and enriches it later
      (``build_json_pipeline``).
    * an entry map (the CLI's ``-I``, possibly empty) → the sink-ready
      record, the bytes ``enriched_json_col`` gives for it except that
      an exponent-form float may print differently (``1e-05`` for
      ``1.0E-5``).  A top-level ``null`` gives ``None``: no record (F2,
      jsonstreamer.go:48).  An object gets the T4 merge — a new key is
      appended, an existing key keeps its slot and takes the entry's
      value (jsonstreamer.go:49-56) — and is serialized once (T3):
      top-level keys in insertion order, nested values as
      :func:`_nested` describes, strings as raw UTF-8 with a lone
      surrogate as U+FFFD (Go's decoder does the same).  Values that
      are not objects are not enriched and keep their compact form.

    Non-finite numbers raise ``ValueError``: RFC 8259 has no NaN or
    Infinity, and Go's decoder rejects them.
    """
    if entries is not None and value is None:
        return None
    if entries is None or type(value) is not dict:
        return json.dumps(value, separators=_COMPACT, allow_nan=False)
    obj = {k: _nested(v) for k, v in value.items()}
    obj.update(entries)
    out = json.dumps(obj, ensure_ascii=False, separators=_COMPACT, allow_nan=False)
    if "\\u00" in out:
        out = _CONTROL_ESCAPE.sub(lambda m: m[1] + "\\u00" + m[2].upper(), out)
    if not out.isascii():
        out = _SURROGATE.sub("\ufffd", out)
    return out


def split_concatenated_json(text: str, strict: bool = True) -> list[str]:
    """Split one concatenated-JSON string into record strings.

    Mirrors Go's json.Decoder value loop; each value becomes its
    compact JSON (:func:`render_record`).  Top-level nulls are
    dropped (F2).  A malformed or non-finite value raises
    :class:`ConcatenatedJsonError` in strict mode and ends the split in
    permissive mode.
    """
    decoder = json.JSONDecoder()
    out: list[str] = []
    i, n = 0, len(text)
    while i < n:
        while i < n and text[i] in " \t\r\n":
            i += 1
        if i >= n:
            break
        try:
            value, end = decoder.raw_decode(text, i)
            record = None if value is None else render_record(value)
        except ValueError as exc:
            if strict:
                raise ConcatenatedJsonError(
                    f"malformed JSON value at offset {i}: {exc}"
                ) from exc
            break
        if record is not None:
            out.append(record)
        i = end
    return out


def read_concatenated_json(
    spark: SparkSession, path: str, strict: bool = True
) -> DataFrame:
    """One row (column ``value``: the compact JSON string) per top-level
    value across all files under ``path``.

    Scale: one task per file; each file is decoded in a single
    streaming pass. For 100 TB the landing format should be JSON-lines
    (splittable); this operator exists for reference parity with
    arbitrary concatenation.
    """
    whole = spark.read.text(path, wholetext=True)

    def split_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            vals: list[str] = []
            for txt in pdf["value"]:
                vals.extend(split_concatenated_json(txt, strict=strict))
            yield pd.DataFrame({"value": vals})

    return whole.mapInPandas(split_batches, schema="value string")


def read_json_lines(
    spark: SparkSession, path: str, schema: str | None = None
) -> DataFrame:
    """JSON-lines fast path: native splittable source, full pushdown.

    With ``schema`` → typed columns; without → keep the raw line for
    passthrough fidelity (the reference never interprets values)."""
    if schema:
        return spark.read.schema(schema).json(path)
    return spark.read.text(path).filter(F.length("value") > 0)
