"""Multimodal-column tests: byte-level featurizers and the PPM/WAV/PNG
codecs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.utils import PythonException

from kinesis_log_streamer_spark.operators import multimodal as M


@pytest.fixture(scope="module")
def media(spark):
    df = spark.createDataFrame(
        [(0, "abcd"), (1, "xyz")], "doc_id long, text string"
    )
    return M.attach_binary_payload(df)


class TestBinaryPlumbing:
    def test_payload_schema_and_bytes(self, media):
        assert dict(media.dtypes)["payload"] == "binary"
        rows = {r.doc_id: r for r in media.collect()}
        assert bytes(rows[0].payload) == b"abcd"
        assert rows[0].n_bytes == 4 and rows[1].n_bytes == 3
        assert rows[0].kind == "text"

    def test_fake_decode_features(self, media):
        out = {r.doc_id: r for r in M.decode_media(media).collect()}
        assert out[0].feat_first == ord("a")
        assert out[0].feat_last == ord("d")
        assert abs(out[0].feat_mean - (97 + 98 + 99 + 100) / 4) < 1e-9

    def test_frame_sample_explodes_offsets(self, media):
        frames = M.frame_sample(media, every_n_bytes=2).collect()
        by_doc = {}
        for r in frames:
            by_doc.setdefault(r.doc_id, []).append(r)
        # doc 0: 4 bytes / 2 = 2 frames; doc 1: 3 // 2 = 1 frame
        assert len(by_doc[0]) == 2 and len(by_doc[1]) == 1
        f0 = sorted(by_doc[0], key=lambda r: r.frame_no)
        assert [r.frame_offset for r in f0] == [0, 2]
        assert f0[0].frame_token == "a" and f0[1].frame_token == "c"

    def test_resize_block_averages(self, media):
        # doc 0 payload "abcd" (97,98,99,100) -> 2 cells of 2 bytes:
        # (97+98)//2 = 97, (99+100)//2 = 99
        out = {
            (r.doc_id, r.cell_no): r.px
            for r in M.resize_media(media, target_w=2).collect()
        }
        assert out[(0, 0)] == 97 and out[(0, 1)] == 99
        # doc 1 payload "xyz" (120,121,122): bounds 0,1,3 ->
        # cell0 = 120, cell1 = (121+122)//2 = 121
        assert out[(1, 0)] == 120 and out[(1, 1)] == 121


class TestRealUncompressedCodecs:
    """Round 13: REAL decoders for uncompressed formats.  The encoders write actual PPM/RIFF wire bytes; the
    decoders parse them back with zero knowledge of the generator."""

    def test_ppm_header_roundtrip(self):
        b = M.ppm_bytes(3, 12, 9)
        w, h, maxval, off = M._ppm_header(b)
        assert (w, h, maxval) == (12, 9, 255)
        assert len(b) - off == 12 * 9 * 3

    def test_ppm_header_tolerates_comments(self):
        # netpbm allows comments anywhere in the header whitespace
        b = b"P6\n# made by hand\n4 2\n# another\n255\n" + bytes(4 * 2 * 3)
        assert M._ppm_header(b) == (4, 2, 255, len(b) - 24)

    def test_ppm_rejects_wrong_magic(self, spark):
        df = spark.createDataFrame(
            [(1, b"P5\n2 2\n255\n" + bytes(4))], "img_id long, payload binary"
        )
        with pytest.raises(Exception, match="P6"):
            M.decode_ppm_stats(df).collect()

    def test_ppm_decode_matches_closed_form(self, spark):
        df = spark.createDataFrame(
            [(i, M.ppm_bytes(i, 8, 6)) for i in range(4)],
            "img_id long, payload binary",
        )
        out = {r.img_id: r for r in M.decode_ppm_stats(df).collect()}
        for i in range(4):
            want = [
                sum(
                    (i * 31 + 7 * x + 13 * y + 97 * c) % 256
                    for x in range(8)
                    for y in range(6)
                )
                for c in range(3)
            ]
            r = out[i]
            assert (r.width, r.height) == (8, 6)
            assert [r.r_sum, r.g_sum, r.b_sum] == want

    def test_wav_chunk_walker_skips_extra_chunks(self, spark):
        # a LIST chunk between fmt and data — the walker must skip it
        # (and honor word alignment: the 3-byte body pads to 4)
        import struct

        b = M.wav_bytes(5, 100, 8000)
        fmt_chunk = b[12:36]
        data_chunk = b[36:]
        extra = b"LIST" + struct.pack("<I", 3) + b"abc" + b"\x00"
        doctored = b[:12] + fmt_chunk + extra + data_chunk
        df = spark.createDataFrame(
            [(5, doctored)], "clip_id long, payload binary"
        )
        r = M.decode_wav_stats(df).collect()[0]
        assert (r.sample_rate, r.n_channels, r.n_samples) == (8000, 1, 100)
        assert r.sum_samples == sum(
            ((5 * 7 + 11 * i) % 65536) - 32768 for i in range(100)
        )

    def test_wav_rejects_stereo(self, spark):
        import struct

        b = M.wav_bytes(1, 10, 8000)
        # flip the channel-count field (offset 12+8+2) to 2
        doctored = b[:22] + struct.pack("<H", 2) + b[24:]
        df = spark.createDataFrame(
            [(1, doctored)], "clip_id long, payload binary"
        )
        with pytest.raises(Exception, match="PCM-16 mono"):
            M.decode_wav_stats(df).collect()


class TestPngCodec:
    """Round-14 REAL compressed decode (stdlib zlib + numpy): wire
    roundtrip, CRC verification, filter coverage, strictness."""

    def test_roundtrip_matches_closed_form(self, spark):
        import numpy as np

        df = spark.createDataFrame(
            [(i, M.png_bytes(i, 8 + i % 6 * 3, 6 + i % 4 * 3)) for i in range(6)],
            "img_id long, payload binary",
        )
        rows = {r.img_id: r for r in M.decode_png_stats(df).collect()}
        for i in range(6):
            w, h = 8 + i % 6 * 3, 6 + i % 4 * 3
            x, y, c = (
                np.arange(w)[None, :, None],
                np.arange(h)[:, None, None],
                np.arange(3)[None, None, :],
            )
            want = ((i * 31 + 7 * x + 13 * y + 97 * c) % 256).sum(
                axis=(0, 1), dtype=np.int64
            )
            r = rows[i]
            assert (r.width, r.height) == (w, h)
            assert (r.r_sum, r.g_sum, r.b_sum) == tuple(int(v) for v in want)

    def test_all_five_filters_present_in_wire_bytes(self):
        # h >= 6 → the encoder's y%5 rotation emits every filter type;
        # decode re-derives the filter bytes from the inflate stream.
        import zlib

        b = M.png_bytes(3, 9, 7)
        # IDAT body: chunk walk (signature 8, IHDR = 12+13 bytes)
        import struct

        pos, idat = 8, b""
        while pos + 8 <= len(b):
            (ln,) = struct.unpack(">I", b[pos : pos + 4])
            if b[pos + 4 : pos + 8] == b"IDAT":
                idat += b[pos + 8 : pos + 8 + ln]
            pos += 12 + ln
        stream = zlib.decompress(idat)
        stride = 1 + 9 * 3
        assert {stream[r * stride] for r in range(7)} == {0, 1, 2, 3, 4}

    def test_crc_corruption_rejected(self):
        b = bytearray(M.png_bytes(1, 8, 6))
        # flip one raster-affecting byte inside IDAT (after sig+IHDR)
        b[8 + 25 + 10] ^= 0xFF
        with pytest.raises(ValueError, match="CRC"):
            M.decode_png(bytes(b))

    def test_bad_signature_rejected(self):
        with pytest.raises(ValueError, match="signature"):
            M.decode_png(b"\x88PNG\r\n\x1a\n" + b"\x00" * 32)

    def test_interlaced_rejected(self):
        import struct
        import zlib

        ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 1)  # Adam7
        chunk = (
            struct.pack(">I", len(ihdr))
            + b"IHDR"
            + ihdr
            + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF)
        )
        payload = (
            b"\x89PNG\r\n\x1a\n"
            + chunk
            + M.png_bytes(0, 4, 4)[8 + 25 :]  # reuse a real IDAT+IEND
        )
        with pytest.raises(ValueError, match="interlace"):
            M.decode_png(payload)
