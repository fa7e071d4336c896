"""Property-based tests (hypothesis) for the parsing/batching kernels
whose edge cases enumerated examples can miss.

Pure-Python properties run at full example counts; Spark-bound
properties batch one generated corpus per example and cap examples so
the suite stays fast.
"""

from __future__ import annotations

import json

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from kinesis_log_streamer_spark.sources.json_source import (
    split_concatenated_json,
)
from kinesis_log_streamer_spark.streaming.kinesis_sink import (
    MAX_BYTES_PER_RECORD,
    chunk_records,
)

# JSON values as Go's encoding/json would produce them: finite numbers,
# text keys/values, bounded nesting.
json_values = st.recursive(
    st.none()
    | st.booleans()
    | st.integers(min_value=-(2**53), max_value=2**53)
    | st.floats(allow_nan=False, allow_infinity=False, width=32)
    | st.text(max_size=20),
    lambda children: st.lists(children, max_size=4)
    | st.dictionaries(st.text(max_size=8), children, max_size=4),
    max_leaves=10,
)

separators = st.sampled_from(["", " ", "\n", "\t", "\r\n", "  \n "])


class TestConcatenatedJsonProperties:
    @given(st.lists(json_values, max_size=8), st.lists(separators, max_size=8))
    @settings(max_examples=200, deadline=None)
    def test_split_recovers_every_nonnull_value(self, values, seps):
        # Build a concatenated stream with arbitrary (possibly empty)
        # separation — except between two bare numbers, where Go's
        # decoder (and ours) needs a boundary.
        parts: list[str] = []
        blob = ""
        for i, v in enumerate(values):
            dumped = json.dumps(v)
            sep = seps[i % len(seps)] if seps else " "
            # ADVICE r9 low #4: force a separator only at a genuine
            # number/number boundary — prev char a digit or '.' AND
            # the next dumped value starting with a digit, '-', or
            # '.'.  The old blob[-1]-only rule also fired on 'e'
            # (true/false endings), injecting whitespace into cases
            # every decoder can already split and narrowing coverage
            # of the no-separator path.
            if (
                blob
                and not sep
                and (blob[-1].isdigit() or blob[-1] == ".")
                and dumped[0] in "-.0123456789"
            ):
                sep = " "
            blob += sep + dumped
            parts.append(dumped)
        got = split_concatenated_json(blob)
        want = [
            json.dumps(v, separators=(",", ":")) for v in values if v is not None
        ]
        assert got == want
        # every recovered record round-trips to the original value
        nonnull = [v for v in values if v is not None]
        assert [json.loads(g) for g in got] == nonnull

    @given(
        st.dictionaries(st.text(max_size=8), json_values, max_size=6),
        st.sampled_from([(",", ":"), (", ", ": "), (",", ": ")]),
        st.booleans(),
        st.sampled_from([{}, {"LogFile": "HTTPAccessLog"}, {"": "\x7f\"\\"}]),
    )
    @settings(max_examples=300, deadline=None)
    def test_split_renders_each_spelling_like_render_record(
        self, value, seps, ascii_only, entries
    ):
        # An object's text, compact or not, escaped or raw UTF-8, gives
        # the record render_record gives its value (the splitter cuts
        # compact objects from the buffer instead of encoding them).
        from kinesis_log_streamer_spark.sources.json_source import (
            render_record,
            split_json_values,
        )

        text = json.dumps(value, separators=seps, ensure_ascii=ascii_only)
        records, tail = split_json_values(text, True, entries)
        assert records == [render_record(json.loads(text), entries)]
        assert tail == ""

    @given(st.lists(json_values, max_size=5), st.text(max_size=10))
    @settings(max_examples=200, deadline=None)
    def test_strict_mode_raises_on_trailing_garbage(self, values, garbage):
        from kinesis_log_streamer_spark.sources.json_source import (
            ConcatenatedJsonError,
        )

        blob = " ".join(json.dumps(v) for v in values) + " !" + garbage
        try:
            split_concatenated_json(blob)
            raised = False
        except ConcatenatedJsonError:
            raised = True
        assert raised  # '!' can never start a JSON value


records = st.lists(
    st.tuples(
        st.binary(min_size=0, max_size=200), st.text(min_size=1, max_size=20)
    ),
    max_size=60,
)


class TestChunkingProperties:
    @given(records, st.integers(2, 10), st.integers(100, 2000))
    @settings(max_examples=200, deadline=None)
    def test_batches_preserve_order_and_respect_caps(
        self, recs, max_records, max_bytes
    ):
        batches = list(chunk_records(recs, max_records, max_bytes))
        # order-preserving, loss-free re-concatenation
        assert [r for b in batches for r in b] == recs
        assert all(b for b in batches)  # no empty batches
        for b in batches:
            assert len(b) <= max_records
            size = sum(len(d) + len(k.encode()) for d, k in b)
            # a single record may exceed max_bytes on its own (the API
            # cap for that is MAX_BYTES_PER_RECORD, tested separately)
            if len(b) > 1:
                assert size <= max_bytes

    @given(records)
    @settings(max_examples=100, deadline=None)
    def test_record_size_gate(self, recs):
        oversized = [(b"x" * (MAX_BYTES_PER_RECORD + 1), "k")]
        try:
            list(chunk_records(recs + oversized))
            raised = False
        except ValueError:
            raised = True
        assert raised


class TestEnrichmentProperty:
    """One Spark job per example over a generated corpus: the variant
    merge must equal Python's dict-merge + compact re-dump semantics
    (the reference's Unmarshal→set→Marshal, jsonstreamer.go:49-62),
    up to the documented nested-key-sort canonicalization."""

    # objects only (enrichment targets), string/int/bool/nested values
    objs = st.dictionaries(
        st.text(
            alphabet=st.characters(
                whitelist_categories=("Ll", "Lu", "Nd"), min_codepoint=48
            ),
            min_size=1,
            max_size=6,
        ),
        st.recursive(
            st.booleans()
            | st.integers(min_value=-(10**6), max_value=10**6)
            | st.text(max_size=10),
            lambda c: st.dictionaries(
                st.text(max_size=4), c, max_size=3
            ),
            max_leaves=6,
        ),
        max_size=5,
    )

    @staticmethod
    def _canon(v):
        # nested objects re-serialize key-sorted through the variant
        # path (top level keeps insertion order — compared as dicts
        # here, so only VALUES need canonicalizing)
        if isinstance(v, dict):
            return {
                k: TestEnrichmentProperty._canon(v[k]) for k in sorted(v)
            }
        return v

    @given(st.lists(objs, min_size=1, max_size=30))
    @settings(
        max_examples=5,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def test_variant_merge_matches_python_semantics(self, spark, objects):
        from kinesis_log_streamer_spark.operators.transforms import (
            enrich_json_objects,
        )

        entries = {"source": "engine"}
        df = spark.createDataFrame(
            [(json.dumps(o),) for o in objects], "value string"
        )
        got = [r.data for r in enrich_json_objects(df, entries=entries).collect()]
        for raw, out in zip(objects, got):
            want = dict(raw)
            want.update(entries)
            assert json.loads(out) == self._canon(want)

    # the generator above plus floats (integral ones print as ints on
    # both sides) and any non-surrogate text
    mixed = st.dictionaries(
        st.text(alphabet=st.characters(blacklist_categories=("Cs",)), max_size=6),
        st.recursive(
            st.booleans()
            | st.none()
            | st.integers(min_value=-(2**70), max_value=2**70)
            | st.floats(allow_nan=False, allow_infinity=False)
            | st.text(alphabet=st.characters(blacklist_categories=("Cs",)), max_size=10),
            lambda c: st.lists(c, max_size=3)
            | st.dictionaries(st.text(max_size=4), c, max_size=3),
            max_leaves=6,
        ),
        max_size=5,
    )

    @given(st.lists(objs | mixed, min_size=1, max_size=30))
    @settings(
        max_examples=5,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def test_renderer_matches_spark_operator(self, spark, objects):
        """The CLI's splitter-side merge (``render_record``) and the
        Spark operator give json.loads-equal records for every object."""
        from kinesis_log_streamer_spark.operators.transforms import (
            enrich_json_objects,
        )
        from kinesis_log_streamer_spark.sources.json_source import (
            render_record,
        )

        entries = {"source": "engine", "ключ": "значение"}
        df = spark.createDataFrame(
            [(json.dumps(o),) for o in objects], "value string"
        )
        got = [r.data for r in enrich_json_objects(df, entries=entries).collect()]
        for raw, out in zip(objects, got):
            assert json.loads(render_record(raw, entries)) == json.loads(out)


def _chunked(raw: bytes, cuts: list[int]):
    """Split raw bytes at the (sorted, deduped) cut offsets."""
    points = sorted({min(c, len(raw)) for c in cuts} | {0, len(raw)})
    return [raw[a:b] for a, b in zip(points, points[1:]) if b > a]


class _PieceStream:
    def __init__(self, pieces):
        self._p = list(pieces)

    def read(self, n: int) -> bytes:
        if not self._p:
            return b""
        piece = self._p.pop(0)
        if len(piece) > n:
            head, rest = piece[:n], piece[n:]
            self._p.insert(0, rest)
            return head
        return piece


class TestSpoolerProperties:
    """The CLI streaming spooler must reconstruct records EXACTLY for
    any input under any chunk partitioning — the property the carry
    logic (linestreamer.go:49-57's rule) exists to guarantee."""

    @given(
        lines=st.lists(
            st.text(
                alphabet=st.characters(
                    blacklist_characters="\n", blacklist_categories=("Cs",)
                ),
                max_size=30,
            ),
            min_size=1,
            max_size=20,
        ),
        cuts=st.lists(
            st.integers(min_value=0, max_value=700), max_size=12
        ),
        trailing_newline=st.booleans(),
    )
    @settings(max_examples=200, deadline=None)
    def test_line_mode_reconstructs_any_chunking(
        self, tmp_path_factory, lines, cuts, trailing_newline
    ):
        from kinesis_log_streamer_spark.streaming.stdin_spool import (
            StdinSpooler,
        )

        d = tmp_path_factory.mktemp("spool")
        raw = "\n".join(lines).encode("utf-8")
        if trailing_newline:
            raw += b"\n"
        import os

        sp = StdinSpooler(
            _PieceStream(_chunked(raw, cuts)), str(d), fmt="line"
        )
        n = sp.run()
        got = []
        for f in sorted(os.listdir(d)):
            # newline="": records may legitimately contain bare \r,
            # which universal-newline reading would rewrite
            with open(
                os.path.join(d, f), encoding="utf-8", newline=""
            ) as fh:
                got += fh.read().split("\n")[:-1]
        # An input ending without a newline still yields its last
        # (possibly empty-string-free) record; empty input yields none.
        want = raw.decode("utf-8").split("\n")
        if want and want[-1] == "":
            want = want[:-1]
        if raw == b"":
            want = []
        assert got == want
        assert n == len(want)

    @given(
        values=st.lists(json_values, min_size=1, max_size=8),
        seps=st.lists(separators, min_size=8, max_size=8),
        cuts=st.lists(
            st.integers(min_value=0, max_value=500), max_size=10
        ),
    )
    @settings(max_examples=150, deadline=None)
    def test_json_mode_reconstructs_any_chunking(
        self, tmp_path_factory, values, seps, cuts
    ):
        from kinesis_log_streamer_spark.streaming.stdin_spool import (
            StdinSpooler,
        )

        d = tmp_path_factory.mktemp("spool")
        # Same boundary rule as TestConcatenatedJsonProperties above:
        # two adjacent bare numbers with no separator ("0.0" + "0" →
        # "0.00") concatenate into a single valid JSON number, so no
        # decoder — Go's json.Decoder included (jsonstreamer.go:40-46)
        # — can recover the boundary. Force whitespace there.
        blob = ""
        for i, v in enumerate(values):
            dumped = json.dumps(v)
            sep = seps[i % 8]
            # ADVICE r9 low #4: force a separator only at a genuine
            # number/number boundary — prev char a digit or '.' AND
            # the next dumped value starting with a digit, '-', or
            # '.'.  The old blob[-1]-only rule also fired on 'e'
            # (true/false endings), injecting whitespace into cases
            # every decoder can already split and narrowing coverage
            # of the no-separator path.
            if (
                blob
                and not sep
                and (blob[-1].isdigit() or blob[-1] == ".")
                and dumped[0] in "-.0123456789"
            ):
                sep = " "
            blob += sep + dumped
        raw = blob.encode("utf-8")
        import os

        sp = StdinSpooler(
            _PieceStream(_chunked(raw, cuts)), str(d), fmt="json"
        )
        n = sp.run()
        landed = []
        for f in sorted(os.listdir(d)):
            with open(os.path.join(d, f), encoding="utf-8") as fh:
                landed += fh.read().splitlines()
        nonnull = [v for v in values if v is not None]  # F2
        assert [json.loads(line) for line in landed] == nonnull
        assert n == len(nonnull)
        # one splitter: the chunked spool lands exactly the records the
        # whole-string split gives
        assert landed == split_concatenated_json(blob)


class TestUncompressedCodecProperties:
    """Pure-Python properties for the round-13 real codecs: every
    encoder output must decode back to the generator's closed form,
    at any size."""

    @given(
        st.integers(min_value=0, max_value=10_000),
        st.integers(min_value=1, max_value=40),
        st.integers(min_value=1, max_value=30),
    )
    @settings(max_examples=100, deadline=None)
    def test_ppm_roundtrip_any_size(self, img_id, w, h):
        import numpy as np

        from kinesis_log_streamer_spark.operators import multimodal as M

        b = M.ppm_bytes(img_id, w, h)
        pw, ph, maxval, off = M._ppm_header(b)
        assert (pw, ph, maxval) == (w, h, 255)
        px = np.frombuffer(b, np.uint8, count=w * h * 3, offset=off).reshape(
            h, w, 3
        )
        # spot the corners + exact channel sums against the closed form
        for (x, y, c) in [(0, 0, 0), (w - 1, h - 1, 2), (w - 1, 0, 1)]:
            assert px[y, x, c] == (img_id * 31 + 7 * x + 13 * y + 97 * c) % 256
        want = [
            sum(
                (img_id * 31 + 7 * x + 13 * y + 97 * c) % 256
                for x in range(w)
                for y in range(h)
            )
            for c in range(3)
        ]
        assert px.sum(axis=(0, 1), dtype=np.int64).tolist() == want

    @given(
        st.integers(min_value=0, max_value=10_000),
        st.integers(min_value=0, max_value=400),
        st.sampled_from([8000, 16000, 44100]),
    )
    @settings(max_examples=100, deadline=None)
    def test_wav_roundtrip_any_length(self, clip_id, n, sr):
        import struct

        import numpy as np

        from kinesis_log_streamer_spark.operators import multimodal as M

        b = M.wav_bytes(clip_id, n, sr)
        assert b[:4] == b"RIFF" and b[8:12] == b"WAVE"
        (riff_size,) = struct.unpack("<I", b[4:8])
        assert riff_size == len(b) - 8  # header size field is honest
        samples = np.frombuffer(b[44:], "<i2").astype(np.int64)
        assert samples.size == n
        want = ((clip_id * 7 + 11 * np.arange(n, dtype=np.int64)) % 65536) - 32768
        assert (samples == want).all()
