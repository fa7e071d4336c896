"""Concatenated-JSON source (reference S3: jsonstreamer.go:34-81).

The reference decodes one top-level JSON value at a time from the
stream — objects, arrays, or scalars, separated by whitespace *or
nothing at all* — and stops at the first malformed value
(jsonstreamer.go:40-46).

Spark's JSON reader assumes JSON-lines (or one multiLine document), so
true concatenated JSON needs a pre-splitter.  There is one,
:func:`split_json_values`: an incremental ``raw_decode`` loop over a
buffer that may end mid-value.  The CLI's stdin spool
(``streaming.stdin_spool.StdinSpooler``) calls it on every chunk and
at EOF; :func:`split_concatenated_json` is one call over a whole
string, and :func:`read_concatenated_json` runs that per file
(``wholetext``) inside ``mapInPandas`` — Arrow-batched, one Python
pass per file, not per record.

Semantics reproduced:
* one record per top-level value, any separation     (jsonstreamer.go:40-46)
* only RFC 8259 whitespace (space, tab, LF, CR) separates values
* top-level ``null`` skipped (F2)                    (jsonstreamer.go:48)
* stop at the first malformed value with an error, after the values
  before it                                          (jsonstreamer.go:44-45;
                                                      main.go:165-168)
* non-finite numbers (``NaN``, ``Infinity``, ``1e400``) are malformed
  JSON (RFC 8259 §6), as in Go's decoder

Each value becomes its record text through :func:`render_record`.
Given the CLI's ``-I`` entry map the splitter renders the record
SINK-READY (T3+T4, jsonstreamer.go:49-62), so Spark only stamps the
partition key; an object whose text is already in that form is cut
from the buffer with the entries appended, not encoded again.
"""

from __future__ import annotations

import json
import re
from collections.abc import Iterator, Mapping

import pandas as pd
from pyspark.sql import DataFrame, SparkSession


class ConcatenatedJsonError(ValueError):
    """A malformed top-level value: the split stops there.  ``records``
    holds the records split before it, which are still sent
    (jsonstreamer.go:44-45)."""

    def __init__(self, message: str, records: list[str] | None = None):
        super().__init__(message)
        self.records = records or []


_COMPACT = (",", ":")
# The sink-ready record's encoder, built once: ``json.dumps`` with
# non-default options builds a new encoder on every call.
_ENCODE_RECORD = json.JSONEncoder(
    ensure_ascii=False, separators=_COMPACT, allow_nan=False
).encode
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

# RFC 8259 §2: the only whitespace allowed between values.
_WHITESPACE = " \t\n\r"
# What may follow a decoded bare number when more input could still
# extend it: nothing ("1" then "0"), or the number's own characters
# ("0." then "5").
_NUMBER_TAIL = re.compile(r"[-+.eE0-9]*")
# The text from a decode error to the buffer's end that more input
# could still complete: a number's continuation (or nothing at all), a
# literal's prefix, or a \u escape cut short (the error points at its
# "u").
_CUT_OFF = re.compile(
    _NUMBER_TAIL.pattern + r"|t|tr|tru|f|fa|fal|fals|n|nu|nul|u[0-9a-fA-F]{0,4}"
)


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
    return _spark_escapes(_ENCODE_RECORD(obj))


def _spark_escapes(out: str) -> str:
    """A rendered record with Spark's spelling of control escapes and
    a lone surrogate as U+FFFD."""
    if "\\u00" in out:
        out = _CONTROL_ESCAPE.sub(lambda m: m[1] + "\\u00" + m[2].upper(), out)
    if not out.isascii():
        out = _SURROGATE.sub("\ufffd", out)
    return out


def _verbatim_record(
    buf: str, start: int, end: int, value: dict, entries: Mapping[str, str], tail: str
) -> str | None:
    """``render_record(value, entries)`` cut from the object's own text
    ``buf[start:end]``, or None when that text is not already the
    object's compact form.  Spares the hot path the re-encoding of
    ordinary records.

    Every member value must be a string, a DECIMAL(38) int, a boolean
    or null.  ``size`` counts a string's characters once, ``"`` and
    ``\\`` twice (the compact form's ``\\"`` and ``\\\\``).  No text of
    the object is shorter, and only its compact form without control
    characters is as long: whitespace, a repeated key, a ``-0`` or any
    other escape make the text longer.  The entries' compact members
    (``tail``) are then appended, which is the T4 merge when no entry
    key is in the object.
    """
    if not value or not value.keys().isdisjoint(entries):
        return None
    escaped = buf.find("\\", start, end) >= 0
    size = len(value) + 1  # braces and commas
    for k, v in value.items():
        t = type(v)
        if t is str:
            n = len(v) + 2 + (_escapes(v) if escaped else 0)
        elif t is int and -_DECIMAL38 < v < _DECIMAL38:
            n = len(str(v))
        elif t is bool or v is None:
            n = 5 if v is False else 4
        else:
            return None
        size += len(k) + 3 + n + (_escapes(k) if escaped else 0)
    if end - start != size:
        return None
    text = f"{buf[start : end - 1]},{tail}}}" if tail else buf[start:end]
    return _spark_escapes(text)


def _escapes(s: str) -> int:
    return s.count('"') + s.count("\\")


def split_json_values(
    buf: str, final: bool, entries: Mapping[str, str] | None
) -> tuple[list[str], str]:
    """Split the complete top-level JSON values off ``buf``: Go's
    json.Decoder value loop (jsonstreamer.go:40-48), run on a buffer
    that may end mid-value.

    Returns the records — each non-null value rendered by
    :func:`render_record` with ``entries``; a top-level ``null`` is no
    record (F2) — and the unconsumed tail.  Values may be separated by
    RFC 8259 whitespace (space, tab, LF, CR) or by nothing.

    Unless ``final``, a value the buffer's end cuts off stays in the
    tail for the next call: an unterminated string, a literal's or a
    ``\\u`` escape's prefix, or a number (a bare number has no closing
    token: "-10" read as "-1"|"0" must not give -1 and 0).  With
    ``final`` the buffer's end terminates it.  Anything else that does
    not decode — or a non-finite number, which RFC 8259 lacks — raises
    :class:`ConcatenatedJsonError` at once, carrying the records split
    before it.
    """
    decode = json.JSONDecoder().raw_decode
    # the entries' compact members, appended by _verbatim_record
    tail = None if entries is None else _ENCODE_RECORD(dict(entries))[1:-1]
    out: list[str] = []
    i, n = 0, len(buf)
    while True:
        while i < n and buf[i] in _WHITESPACE:
            i += 1
        if i == n:
            return out, ""
        try:
            value, end = decode(buf, i)
        except json.JSONDecodeError as exc:
            # Python reports an unterminated string at its opening
            # quote, any other error at the text it stopped on.
            cut = exc.msg.startswith("Unterminated string") or _CUT_OFF.fullmatch(
                buf, exc.pos
            )
            if cut and not final:
                return out, buf[i:]
            message = (
                f"trailing non-JSON input at EOF: {buf[i : i + 80]!r}"
                if cut
                else f"malformed JSON value at offset {i}: {exc}"
            )
            raise ConcatenatedJsonError(message, out) from exc
        if (
            not final
            and type(value) in (int, float)
            and _NUMBER_TAIL.fullmatch(buf, end)
        ):
            return out, buf[i:]
        if value is not None:
            try:
                record = None
                if tail is not None and type(value) is dict:
                    record = _verbatim_record(buf, i, end, value, entries, tail)
                out.append(record or render_record(value, entries))
            except ValueError as exc:
                raise ConcatenatedJsonError(
                    f"JSON value rejected at offset {i}: {exc}", out
                ) from exc
        i = end


def split_concatenated_json(text: str) -> list[str]:
    """Split one whole concatenated-JSON string into compact record
    strings (:func:`split_json_values` with the text's end as the
    stream's end)."""
    return split_json_values(text, True, None)[0]


def read_concatenated_json(spark: SparkSession, path: str) -> DataFrame:
    """One row (column ``value``: the compact JSON string) per top-level
    value across all files under ``path``; a malformed value fails the
    job.

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
                vals.extend(split_concatenated_json(txt))
            yield pd.DataFrame({"value": vals})

    return whole.mapInPandas(split_batches, schema="value string")
