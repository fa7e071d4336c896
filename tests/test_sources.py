"""Source-parity tests: line splitter edge cases (FIXTURES.md A3) and
the concatenated-JSON decoder (A4; jsonstreamer.go:40-62)."""

from __future__ import annotations

import ast
import io
import json
import pathlib

import pytest

from kinesis_log_streamer_spark.sources import json_source
from kinesis_log_streamer_spark.sources.json_source import (
    ConcatenatedJsonError,
    read_concatenated_json,
    render_record,
    split_concatenated_json,
)
from kinesis_log_streamer_spark.sources.lines import read_lines
from kinesis_log_streamer_spark.streaming.stdin_spool import StdinSpooler


class TestSplitConcatenatedJson:
    def test_values_any_separation(self):
        # jsonstreamer.go:40-46: objects/arrays/scalars, any separation
        out = split_concatenated_json('{"a":1}  [1,2]42 "s"\n{"b":2}')
        assert out == ['{"a":1}', "[1,2]", "42", '"s"', '{"b":2}']

    def test_null_skipped(self):
        # F2: jsonstreamer.go:48
        assert split_concatenated_json('null {"a":1} null') == ['{"a":1}']

    def test_strict_aborts_on_malformed(self):
        # jsonstreamer.go:44-45: abort at first malformed value
        with pytest.raises(ConcatenatedJsonError):
            split_concatenated_json('{"a":1} {bad} {"b":2}')

    def test_large_int_precision(self):
        # A4 caveat: Go decodes to float64 and loses precision above
        # 2^53; Python's json keeps ints exact — documented improvement.
        out = split_concatenated_json("9007199254740993")
        assert out == ["9007199254740993"]

    def test_empty_input(self):
        assert split_concatenated_json("  \n ") == []

    def test_one_splitter_decodes_json(self):
        # Every concatenated-JSON split in the package goes through one
        # function: a second raw_decode loop could drift from it.
        import kinesis_log_streamer_spark

        root = pathlib.Path(kinesis_log_streamer_spark.__file__).parent
        owners = set()
        for path in sorted(root.rglob("*.py")):
            tree = ast.parse(path.read_text(encoding="utf-8"))
            parent = {
                child: node
                for node in ast.walk(tree)
                for child in ast.iter_child_nodes(node)
            }
            for node in ast.walk(tree):
                name = getattr(node, "attr", None) or getattr(node, "id", None)
                if name not in ("raw_decode", "JSONDecoder"):
                    continue
                owner = parent.get(node)
                while owner is not None and not isinstance(owner, ast.FunctionDef):
                    owner = parent.get(owner)
                owners.add(
                    f"{path.relative_to(root)}:"
                    f"{owner.name if owner else '<module>'}"
                )
        assert owners == {"sources/json_source.py:split_json_values"}


class TestRenderRecord:
    """``render_record`` with an entry map: the sink-ready record the
    CLI sends (T3+T4, jsonstreamer.go:49-62), byte for byte what the
    Spark ``to_json(map<string,variant>)`` merge produced before."""

    ENTRIES = {"LogFile": "HTTPAccessLog", "Region": "eu-west-1"}

    def test_merge_appends_new_keys_and_keeps_slots(self):
        value = {"a": 1, "LogFile": "orig", "b": "x"}
        assert render_record(value, self.ENTRIES) == (
            '{"a":1,"LogFile":"HTTPAccessLog","b":"x","Region":"eu-west-1"}'
        )
        assert value["LogFile"] == "orig"  # the caller's value is untouched

    def test_null_is_no_record_only_when_rendering(self):
        assert render_record(None, {}) is None
        assert render_record(None) == "null"  # raw landing form

    def test_values_that_are_not_objects_keep_their_landed_form(self):
        for value in (42, "na\u00efve", ["b", {"y": 1, "x": 2}, 1.0], True):
            assert render_record(value, self.ENTRIES) == json.dumps(
                value, separators=(",", ":")
            )

    def test_nested_objects_sort_keys_in_utf16_order(self):
        # U+1F600 is a surrogate pair (D83D ...) and sorts before U+FFFF
        value = {"z": {"b": 1, "a": {"\uffff": 1, "\U0001f600": 2}}, "y": 0}
        assert render_record(value, {}) == (
            '{"z":{"a":{"\U0001f600":2,"\uffff":1},"b":1},"y":0}'
        )

    def test_numbers_print_as_the_variant_round_trip_did(self):
        value = {
            "i": 100.0, "z": -0.0, "f": 2.5, "g": 1234567890123456.0,
            "d38": 10**38 - 1, "d39": 10**38, "tiny": 1e-05, "huge": 1e16,
        }
        out = render_record(value, {})
        assert out.startswith(
            '{"i":100,"z":0,"f":2.5,"g":1234567890123456,'
            '"d38":99999999999999999999999999999999999999,'
        )
        # exponent-form floats: the text differs from the JVM's
        # (1.0E-5), the value does not
        tail = json.loads(out)
        assert tail["d39"] == 1e38 and isinstance(tail["d39"], float)
        assert tail["tiny"] == 1e-05 and tail["huge"] == 1e16

    def test_strings_raw_utf8_with_upper_hex_control_escapes(self):
        value = {"s": "caf\u00e9 \u5317 \x1f \\u001f \t\n\"", "\x01k": 1}
        assert render_record(value, {}) == (
            '{"s":"caf\u00e9 \u5317 \\u001F \\\\u001f \\t\\n\\"","\\u0001k":1}'
        )

    @pytest.mark.parametrize(
        "text",
        ['{"s":"\\ud800x"}', '{"\\udc00":1}', '{"n":{"s":["\\udbff"]}}'],
    )
    def test_lone_surrogate_renders_as_replacement_char(self, text):
        # Go's decoder turns an unpaired surrogate escape into U+FFFD;
        # the JVM round trip used to send "?"
        out = render_record(json.loads(text), {})
        assert "\ufffd" in out and "?" not in out
        out.encode("utf-8")  # writable as UTF-8 (the spool's landing file)

    @pytest.mark.parametrize(
        "text",
        [
            '{"n":NaN}',
            '{"n":Infinity}',
            '{"n":[-Infinity]}',
            '{"n":1e400}',
            "NaN",
            "[1e400]",
            # RFC 8259 whitespace is space, tab, LF and CR only
            pytest.param('\x0c{"a":1}', id="sep-formfeed"),
            pytest.param('\xa0{"a":1}', id="sep-nbsp"),
            pytest.param('\x1c{"a":1}', id="sep-file-separator"),
            pytest.param('\u2028{"a":1}', id="sep-line-separator"),
        ],
    )
    @pytest.mark.parametrize("entries", [None, {"Tag": "T"}])
    def test_non_finite_numbers_are_malformed(self, tmp_path, text, entries):
        # RFC 8259 has no NaN/Infinity; the JVM round trip used to send
        # {"n":"NaN"}, a number turned into a string.  Both entry points
        # (a whole string, the CLI's chunked stdin) stop there, after
        # the value before it.
        blob = '{"ok":1} ' + text
        with pytest.raises(ConcatenatedJsonError):
            split_concatenated_json(blob)
        sp = StdinSpooler(
            io.BytesIO(blob.encode("utf-8")), str(tmp_path), "json",
            entries=entries,
        )
        with pytest.raises(ConcatenatedJsonError):
            sp.run()
        assert sp.n_records == 1
        # (json.loads itself refuses the separators)
        with pytest.raises(ValueError):
            render_record(json.loads(text), entries)


class TestVerbatimRecord:
    """An object whose text is already its compact form is cut from the
    buffer instead of being encoded again; every record still equals
    ``render_record``'s."""

    TEXTS = [
        '{"a":"x","b":1,"c":-5}',
        '{"a":"x \\"q\\" \\\\ y"}',  # the compact form's own escapes
        '{"a":true,"b":null,"c":"na\u00efve \u5317"}',
        "{}",
        '{"a":"\\u0041"}',  # a longer escape than needed
        '{"a":"\\/"}',
        '{"a":-0}',
        '{"a":1,"a":2}',  # a repeated key
        '{"a":1 ,"b":2}',
        '{ "a":1}',
        '{"a":1.5}',
        '{"a":100.0}',
        '{"a":99999999999999999999999999999999999999}',
        '{"a":100000000000000000000000000000000000000}',
        '{"a":{"z":1,"b":2}}',
        '{"a":[1.0]}',
        '{"a":"\\u001f"}',
        '{"a":"\\u001F\\n"}',
        '{"a":"x\\ny"}',  # a short escape of a control character
        '{"k\\"":"v\\\\"}',  # an escaped key
        '{"a":"\\ud800"}',
        '{"a":"\ud800"}',
        '{"\\u00e9":"\u00e9"}',
        '{"LogFile":"mine","b":1}',  # an entry key in the object
    ]

    @pytest.mark.parametrize("text", TEXTS)
    @pytest.mark.parametrize(
        "entries",
        [{}, {"LogFile": "HTTPAccessLog"}, {"K": "a\x01\"b", "L": "\ud800"}],
    )
    def test_equals_render_record(self, text, entries):
        records, tail = json_source.split_json_values(text, True, entries)
        assert records == [render_record(json.loads(text), entries)]
        assert tail == ""

    def test_compact_objects_skip_the_encoder(self, monkeypatch):
        calls = []

        def counting(value, entries=None):
            calls.append(value)
            return render_record(value, entries)

        monkeypatch.setattr(json_source, "render_record", counting)
        compact = '{"a":"x \\"q\\"","b":1,"c":true}'
        records, _ = json_source.split_json_values(
            compact + "\n" + '{"a": 1}', True, {"LogFile": "L"}
        )
        assert records == [
            '{"a":"x \\"q\\"","b":1,"c":true,"LogFile":"L"}',
            '{"a":1,"LogFile":"L"}',
        ]
        assert calls == [{"a": 1}]  # only the non-compact one re-encoded


class TestFileSources:
    def test_read_lines_edge_cases(self, spark, tmp_path):
        # A3 corpus: \n and \r\n terminators, empty lines dropped,
        # final line without terminator kept.
        p = tmp_path / "log.txt"
        p.write_bytes(b"one\r\ntwo\n\nthree")
        df = read_lines(spark, str(p))
        assert sorted(r.value for r in df.collect()) == ["one", "three", "two"]

    def test_read_concatenated_json_file(self, spark, tmp_path):
        p = tmp_path / "values.json"
        p.write_text('{"a": 1}{"b": [1,2]} 7 null "x"')
        df = read_concatenated_json(spark, str(p))
        vals = sorted(r.value for r in df.collect())
        assert vals == sorted(['{"a":1}', '{"b":[1,2]}', "7", '"x"'])


class TestApacheAccessLogPath:
    """Entry point 2 end-to-end shape: JSON access records parse to the
    A1 schema via from_json (README.md:13-20)."""

    def test_access_record_typed_parse(self, spark):
        from pyspark.sql import functions as F

        rec = {
            "ClientAddress": "203.0.113.7",
            "RequestLine": "GET /index.html HTTP/1.1",
            "RequestTimeMicroseconds": 1523,
            "ResponseBodySize": 4096,
            "Status": 200,
            "StartTime": "2026-08-13T10:15:30.123456Z",
        }
        df = spark.createDataFrame([(json.dumps(rec),)], "value string")
        schema = (
            "ClientAddress string, RequestLine string, "
            "RequestTimeMicroseconds long, ResponseBodySize long, "
            "Status int, StartTime string"
        )
        parsed = df.select(F.from_json("value", schema).alias("r")).select("r.*")
        row = parsed.first()
        assert row.Status == 200
        assert row.RequestTimeMicroseconds == 1523
        method = parsed.select(
            F.regexp_extract("RequestLine", r"^(\S+)", 1).alias("m")
        ).first()
        assert method.m == "GET"
