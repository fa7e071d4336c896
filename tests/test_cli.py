"""CLI-parity tests (C1-C3: flags, validation, exit codes, dispatch)."""

from __future__ import annotations

import io

import pytest

from kinesis_log_streamer_spark import cli


def _stdin(text: str) -> io.TextIOWrapper:
    """A text stdin over bytes: ``.buffer`` exists, as on a real pipe."""
    return io.TextIOWrapper(io.BytesIO(text.encode()))


class TestParsing:
    def test_defaults(self):
        args = cli.build_parser().parse_args(["Stream"])
        assert args.format == "line"
        assert args.output_format == "auto"
        assert args.output_key == "LogEntry"
        assert args.delivery == "at_least_once"

    def test_delivery_flag(self):
        args = cli.build_parser().parse_args(
            ["--delivery", "at_most_once", "Stream"]
        )
        assert args.delivery == "at_most_once"
        with pytest.raises(SystemExit):
            cli.build_parser().parse_args(["--delivery", "exactly_once", "s"])

    def test_auto_resolution(self):
        # C2: main.go:93-99
        assert cli.resolve_output_format("json", "auto") == "json"
        assert cli.resolve_output_format("line", "auto") == "string"
        assert cli.resolve_output_format("line", "json") == "json"

    def test_invalid_format_exits_2(self, capsys):
        with pytest.raises(SystemExit) as e:
            cli.build_parser().parse_args(["-f", "xml", "s"])
        assert e.value.code == 2

    def test_missing_stream_name_exits_2(self):
        assert cli.main([]) == 2

    def test_multiple_stream_names_exit_2(self):
        assert cli.main(["a", "b"]) == 2

    def test_add_entry_requires_equals(self):
        parser = cli.build_parser()
        with pytest.raises(SystemExit) as e:
            cli.parse_entries(["nokey"], parser)
        assert e.value.code == 2

    def test_add_entry_duplicate_key_rejected(self):
        # main.go:115-118
        parser = cli.build_parser()
        with pytest.raises(SystemExit) as e:
            cli.parse_entries(["k=1", "k=2"], parser)
        assert e.value.code == 2

    def test_add_entry_value_may_contain_equals(self):
        parser = cli.build_parser()
        assert cli.parse_entries(["k=a=b"], parser) == {"k": "a=b"}


class TestDryRunEndToEnd:
    def test_line_json_pipeline(self, spark, monkeypatch, capsys):
        # entry point 3: error-log shape (httpd.conf:182)
        monkeypatch.setattr("sys.stdin", _stdin("warn: x\n\nerror: y\n"))
        rc = cli.main(
            ["-F", "json", "-I", "LogFile=HTTPErrorLog", "--dry-run", "Test"]
        )
        assert rc == 0
        out = capsys.readouterr().out.strip().splitlines()
        assert len(out) == 2
        assert all("\t" in line for line in out)
        assert '"LogFile":"HTTPErrorLog"' in out[0]

    def test_json_pipeline(self, spark, monkeypatch, capsys):
        monkeypatch.setattr("sys.stdin", _stdin('{"a":"1"} null 42'))
        rc = cli.main(["-f", "json", "-I", "Tag=T", "--dry-run", "Test"])
        assert rc == 0
        out = capsys.readouterr().out.strip().splitlines()
        # null skipped; object enriched; scalar passed through
        assert len(out) == 2
        assert any('"Tag":"T"' in line for line in out)
        assert any(line.endswith("\t42") for line in out)

    @pytest.mark.parametrize(
        "fmt, text, want",
        [
            ("line", "a\nb\r\n\nc", ["a", "b", "c"]),  # CR strip, empty drop
            ("line", "", []),
            ("json", "", []),
        ],
    )
    def test_records_printed(self, spark, monkeypatch, capsys, fmt, text, want):
        monkeypatch.setattr("sys.stdin", _stdin(text))
        assert cli.main(["-f", fmt, "--dry-run", "Test"]) == 0
        out = capsys.readouterr().out.splitlines()
        assert sorted(line.split("\t", 1)[1] for line in out) == want


class TestHostId:
    def test_uuid_fallback_format(self):
        from kinesis_log_streamer_spark import hostid

        uid = hostid._random_uuid()
        assert uid.startswith("uuid:") and len(uid) == 5 + 32

    def test_memoized(self):
        from kinesis_log_streamer_spark.hostid import get_host_id

        assert get_host_id() == get_host_id()


class TestJsonRecordsBatchAndStreaming:
    """``-f json`` records land sink-ready from the splitter, through
    ``main`` or ``run_streaming`` alike (one data path); Spark only
    stamps the key."""

    INPUT = (
        '{"host":"web-1","LogFile":"orig","Status":200,'
        '"req":{"path":"/caf\\u00e9","method":"GET","q":{"z":1,"a":[1.0,2.5]}},'
        '"ms":12.0,"ratio":0.25,"zero":-0.0,"user":"Zo\\u00eb \\u5317\\u4eac"}'
        ' 42 ["b",{"y":1,"x":2},1.0] null "na\\u00efve"\n'
        '{"n":-7,"note":"tab\\there"}'
    )
    ARGV = [
        "-f", "json", "-I", "LogFile=HTTPAccessLog", "-I", "Region=eu-west-1",
        "--dry-run", "Test",
    ]
    # The records the CLI sent before the merge moved into the splitter
    # (Spark's to_json over map<string,variant>), captured once.
    EXPECTED = [
        '{"host":"web-1","LogFile":"HTTPAccessLog","Status":200,'
        '"req":{"method":"GET","path":"/café","q":{"a":[1,2.5],"z":1}},'
        '"ms":12,"ratio":0.25,"zero":0,"user":"Zoë 北京",'
        '"Region":"eu-west-1"}',
        "42",
        '["b",{"y":1,"x":2},1.0]',
        '"na\\u00efve"',
        '{"n":-7,"note":"tab\\there","LogFile":"HTTPAccessLog","Region":"eu-west-1"}',
    ]

    def test_batch_and_streaming_print_the_same_records(
        self, spark, monkeypatch, capsys
    ):
        monkeypatch.setattr("sys.stdin", _stdin(self.INPUT))
        assert cli.main(self.ARGV) == 0
        batch = capsys.readouterr().out.splitlines()
        # The one pin that the inert --streaming is accepted and
        # ignored: perfbench/corpus.py:23 still passes it.
        args = cli.build_parser().parse_args(["--streaming", *self.ARGV])
        entries = cli.parse_entries(args.add_entry, cli.build_parser())
        stream = io.BytesIO(self.INPUT.encode())
        assert cli.run_streaming(args, entries, "json", stream) == 0
        streaming = capsys.readouterr().out.splitlines()
        assert batch == streaming
        pairs = [line.split("\t", 1) for line in batch]
        assert len({key for key, _ in pairs}) == 1
        assert [data for _, data in pairs] == self.EXPECTED

    def test_non_finite_number_exits_1_in_both_paths(
        self, spark, monkeypatch, capsys
    ):
        text = '{"ok":1} {"n":NaN}'
        monkeypatch.setattr("sys.stdin", _stdin(text))
        assert cli.main(self.ARGV) == 1
        args = cli.build_parser().parse_args(self.ARGV)
        assert cli.run_streaming(args, {}, "json", io.BytesIO(text.encode())) == 1
        assert '"NaN"' not in capsys.readouterr().out

    def test_records_plan_no_json_parse_or_serialize(self, spark, monkeypatch):
        from kinesis_log_streamer_spark.streaming import kinesis_sink

        captured = []

        class CapturingSink:
            def write_batch(self, df, epoch_id):
                captured.append(df)

        monkeypatch.setattr(kinesis_sink, "KinesisSink", lambda *a, **kw: CapturingSink())
        monkeypatch.setattr(cli, "get_host_id", lambda probe_network=False: "testhost")
        args = cli.build_parser().parse_args(["-f", "json", "Test"])
        assert cli.run_streaming(args, {"k": "v"}, "json", io.BytesIO(b'{"a":1}')) == 0
        batch = cli.build_records(
            cli.build_parser().parse_args(self.ARGV),
            spark.createDataFrame([('{"a":1}',)], "value string"),
            {"k": "v"},
            "json",
            "testhost",
        )
        for records in (captured[0], batch):
            plan = records._jdf.queryExecution().analyzed().toString()
            assert "partitionKey" in plan
            for name in ("JsonToStructs", "StructsToJson", "from_json", "to_json"):
                assert name not in plan, name
