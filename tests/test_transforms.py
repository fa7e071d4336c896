"""Reference-parity tests for the ingest transforms (FIXTURES.md A2-A5;
behaviors cited from /root/reference linestreamer.go / jsonstreamer.go)."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from kinesis_log_streamer_spark.operators import transforms as TR


def _lines(spark, rows):
    return spark.createDataFrame([(r,) for r in rows], "value string")


class TestLineFilters:
    def test_empty_lines_dropped(self, spark):
        # F1: linestreamer.go:86
        df = TR.filter_empty_lines(_lines(spark, ["a", "", "b", ""]))
        assert [r.value for r in df.collect()] == ["a", "b"]

    def test_crlf_stripped(self, spark):
        # S2 CRLF handling: linestreamer.go:64-69
        df = TR.strip_cr(_lines(spark, ["a\r", "b", "c\r"]))
        assert [r.value for r in df.collect()] == ["a", "b", "c"]

    def test_cr_then_empty_dropped(self, spark):
        # "\r\n" line whose payload is empty must be dropped too
        df = TR.filter_empty_lines(TR.strip_cr(_lines(spark, ["\r", "x"])))
        assert [r.value for r in df.collect()] == ["x"]


class TestLineProjections:
    def test_passthrough(self, spark):
        # T1: linestreamer.go:89-90
        df = TR.line_passthrough(_lines(spark, ["raw line §"]))
        assert df.columns == ["data"]
        assert df.first().data == "raw line §"

    def test_wrap_as_json_default_key(self, spark):
        # T2: default output key "LogEntry" (main.go:68)
        df = TR.wrap_line_as_json(_lines(spark, ["boom"]))
        assert json.loads(df.first().data) == {"LogEntry": "boom"}

    def test_wrap_with_entries(self, spark):
        # T2+T4: the error-log deployment (httpd.conf:182)
        df = TR.wrap_line_as_json(
            _lines(spark, ["[warn] child process"]),
            entries={"LogFile": "HTTPErrorLog"},
        )
        assert json.loads(df.first().data) == {
            "LogEntry": "[warn] child process",
            "LogFile": "HTTPErrorLog",
        }


class TestJsonEnrichment:
    def test_objects_enriched(self, spark):
        # T4: jsonstreamer.go:49-56
        df = TR.enrich_json_objects(
            _lines(spark, ['{"a":"1"}']), entries={"LogFile": "X"}
        )
        assert json.loads(df.first().data) == {"a": "1", "LogFile": "X"}

    def test_added_entry_overwrites_existing_key(self, spark):
        # jsonstreamer.go:52-54: entry wins over same-named record key
        df = TR.enrich_json_objects(
            _lines(spark, ['{"k":"orig"}']), entries={"k": "new"}
        )
        assert json.loads(df.first().data) == {"k": "new"}

    def test_scalars_and_arrays_pass_unenriched(self, spark):
        # A4: scalars/arrays shipped but NOT enriched (jsonstreamer.go:50-56)
        df = TR.enrich_json_objects(
            _lines(spark, ["42", "[1,2]"]), entries={"x": "y"}
        )
        assert [r.data for r in df.collect()] == ["42", "[1,2]"]

    def test_typed_values_preserved(self, spark):
        # T3 round trip must preserve JSON value TYPES, mirroring the
        # reference's json.Unmarshal→Marshal of interface{}
        # (jsonstreamer.go:42-62): numbers stay numbers, booleans stay
        # booleans, nested objects/arrays keep structure — never
        # stringified or double-encoded.
        rec = '{"Status":200,"ok":true,"nested":{"a":1},"arr":[1,2.5],"s":"x"}'
        df = TR.enrich_json_objects(_lines(spark, [rec]), entries={"src": "e"})
        got = json.loads(df.first().data)
        assert got == {
            "Status": 200,
            "ok": True,
            "nested": {"a": 1},
            "arr": [1, 2.5],
            "s": "x",
            "src": "e",
        }
        assert isinstance(got["Status"], int)
        assert got["ok"] is True
        assert isinstance(got["nested"], dict)

    def test_typed_values_preserved_without_entries(self, spark):
        # The no-entry re-serialize path (pure T3) keeps types too.
        rec = '{"n":7,"b":false,"o":{"x":[true,null]}}'
        df = TR.enrich_json_objects(_lines(spark, [rec]))
        assert json.loads(df.first().data) == {
            "n": 7,
            "b": False,
            "o": {"x": [True, None]},
        }

    def test_overwrite_keeps_original_key_position(self, spark):
        # Merge-patch byte contract: overwritten key keeps its slot,
        # new keys append (what DuckDB json_merge_patch also does).
        df = TR.enrich_json_objects(
            _lines(spark, ['{"a":1,"k":"orig","z":2}']), entries={"k": "new"}
        )
        assert df.first().data == '{"a":1,"k":"new","z":2}'


class TestSinkContract:
    def test_partition_key_stamp(self, spark):
        # E1+A5: every record carries (data, partitionKey)
        df = TR.to_sink_records(
            TR.line_passthrough(_lines(spark, ["x", "y"])), "host-1"
        )
        assert set(df.columns) == {"data", "partitionKey"}
        assert {r.partitionKey for r in df.collect()} == {"host-1"}
