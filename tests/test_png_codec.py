"""From-scratch PNG codec tests: filter round-trips, chunk validation,
the synth_png pixel pattern and the bound on inflated image data."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest


def _pattern(h, w, ch, seed=3):
    rng = np.random.RandomState(seed)
    return rng.randint(0, 256, size=(h, w, ch), dtype=np.uint8).squeeze()


class TestCodec:
    @pytest.mark.parametrize("f", [0, 1, 2, 3, 4])
    @pytest.mark.parametrize("ch", [1, 2, 3, 4])
    def test_filter_roundtrip(self, f, ch):
        from docling_eval_spark.functions.png_codec import decode_png, encode_png

        arr = _pattern(7, 11, ch)
        out = decode_png(encode_png(arr, filters=[f]))
        expect = arr if arr.ndim == 3 else arr[:, :, None]
        assert out.shape == expect.shape
        assert (out == expect).all()

    def test_cycled_filters_roundtrip(self):
        from docling_eval_spark.functions.png_codec import decode_png, encode_png

        arr = _pattern(13, 9, 3, seed=9)
        out = decode_png(encode_png(arr, filters=[0, 1, 2, 3, 4]))
        assert (out == arr).all()

    def test_synth_png_closed_form(self):
        """synth_png's pixels: R = floor(255x/(w-1)), G = (d+85)%256,
        B = (d+170)%256 — the pattern png_decode_features' oracle
        recomputes."""
        from docling_eval_spark.functions.png_codec import decode_png, synth_png

        w, h = 16, 8
        for d in (0, 7, 123):
            a = decode_png(synth_png(d, w, h))
            assert a.shape == (h, w, 3)
            for x in range(w):
                assert (a[:, x, 0] == (255 * x) // (w - 1)).all()
            assert (a[:, :, 1] == (d + 85) % 256).all()
            assert (a[:, :, 2] == (d + 170) % 256).all()

    def test_crc_corruption_rejected(self):
        from docling_eval_spark.functions.png_codec import (
            _SIG,
            _chunk,
            decode_png,
            encode_png,
        )

        payload = bytearray(encode_png(_pattern(4, 4, 3)))
        payload[40] ^= 0xFF  # flip a byte inside IDAT
        with pytest.raises(ValueError):
            decode_png(bytes(payload))
        # a deflate stream cut before its checksum, under a valid CRC
        ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0)
        cut = zlib.compress(b"\x00" * 6)[:-4]
        with pytest.raises(ValueError):
            decode_png(_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", cut)
                       + _chunk(b"IEND", b""))

    def test_unsupported_profiles_rejected(self):
        from docling_eval_spark.functions.png_codec import (
            _SIG,
            _chunk,
            decode_png,
        )

        def ihdr(depth=8, color=2, interlace=0):
            return _SIG + _chunk(b"IHDR", struct.pack(
                ">IIBBBBB", 2, 2, depth, color, 0, 0, interlace)) + _chunk(
                b"IDAT", zlib.compress(b"\x00" * 14)) + _chunk(b"IEND", b"")

        with pytest.raises(ValueError):
            decode_png(ihdr(depth=16))
        with pytest.raises(ValueError):
            decode_png(ihdr(color=3))  # palette
        with pytest.raises(ValueError):
            decode_png(ihdr(interlace=1))  # Adam7
        with pytest.raises(ValueError):
            decode_png(b"nope")

    def test_ancillary_chunks_skipped(self):
        from docling_eval_spark.functions.png_codec import (
            _chunk,
            decode_png,
            encode_png,
        )

        arr = _pattern(3, 5, 3)
        payload = encode_png(arr)
        # splice a tEXt chunk between IHDR and IDAT
        ihdr_end = 8 + 12 + 13
        spliced = (payload[:ihdr_end] + _chunk(b"tEXt", b"k\x00v")
                   + payload[ihdr_end:])
        assert (decode_png(spliced) == arr).all()

    def test_inflation_bounded_by_ihdr(self):
        """A 1x1 RGB IHDR over ~200 MB of deflated zeros is refused
        without inflating the whole stream."""
        import tracemalloc

        from docling_eval_spark.functions.png_codec import (
            _SIG,
            _chunk,
            decode_png,
        )

        deflater = zlib.compressobj(9)
        zeros = bytes(1 << 20)
        idat = b"".join(deflater.compress(zeros) for _ in range(200))
        idat += deflater.flush()
        payload = (_SIG + _chunk(b"IHDR", struct.pack(
            ">IIBBBBB", 1, 1, 8, 2, 0, 0, 0)) + _chunk(b"IDAT", idat)
            + _chunk(b"IEND", b""))
        tracemalloc.start()
        try:
            with pytest.raises(ValueError):
                decode_png(payload)
            _, peak = tracemalloc.get_traced_memory()
        finally:
            tracemalloc.stop()
        assert peak < 16 * 2**20


def _ref_unfilter(raw, w, h, ch):
    """Scalar transcription of the PNG spec's filter reconstruction
    (section 9.2), one byte at a time, as an independent oracle."""
    stride = w * ch
    rows, prev, pos = [], [0] * stride, 0
    for _ in range(h):
        f, line = raw[pos], raw[pos + 1:pos + 1 + stride]
        pos += stride + 1
        cur = [0] * stride
        for i in range(stride):
            a = cur[i - ch] if i >= ch else 0
            b = prev[i]
            c = prev[i - ch] if i >= ch else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) // 2
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
            cur[i] = (line[i] + pred) & 0xFF
        rows.append(cur)
        prev = cur
    return np.array(rows, dtype=np.uint8).reshape(h, w, ch)


def _png(raw, w, h, color=0, comp=0, filt=0, idat_parts=1):
    """PNG bytes around an already-filtered scanline stream `raw`."""
    from docling_eval_spark.functions.png_codec import _SIG, _chunk

    z = zlib.compress(raw)
    cut = [len(z) * k // idat_parts for k in range(idat_parts + 1)]
    idats = b"".join(_chunk(b"IDAT", z[cut[k]:cut[k + 1]])
                     for k in range(idat_parts))
    return (_SIG + _chunk(b"IHDR", struct.pack(
        ">IIBBBBB", w, h, 8, color, comp, filt, 0)) + idats
        + _chunk(b"IEND", b""))


class TestDecoderSpec:
    @pytest.mark.parametrize("f", [0, 1, 2, 3, 4])
    def test_unfilter_matches_scalar_spec(self, f):
        """Random filtered bytes that the encoder never produced decode
        to what the spec's per-byte reconstruction gives, including the
        one-column and one-row edges of Average and Paeth."""
        from docling_eval_spark.functions.png_codec import decode_png

        rng = np.random.RandomState(40 + f)
        for w, h, color, ch in ((9, 6, 6, 4), (1, 5, 2, 3), (7, 1, 4, 2)):
            raw = bytearray()
            for _ in range(h):
                raw.append(f)
                raw += rng.randint(0, 256, w * ch, dtype=np.uint8).tobytes()
            got = decode_png(_png(bytes(raw), w, h, color=color))
            assert (got == _ref_unfilter(bytes(raw), w, h, ch)).all()

    @pytest.mark.parametrize("build, match", [
        (lambda: _png(b"\x00" * 6, 2, 2)[:33] + struct.pack(">I", 1000)
         + b"IDAT" + b"\x00" * 20, "truncated chunk"),
        (lambda: _png(b"\x00" * 6, 2, 2)[:-12], "no IEND"),
        (lambda: _png(b"\x00" * 6, 2, 2)[:33] + _png(b"", 0, 0)[-12:],
         "missing IHDR/IDAT"),
        (lambda: _png(b"\x00" * 6, 2, 2)[:8] + _png(b"\x00" * 6, 2, 2)[33:],
         "missing IHDR/IDAT"),
        (lambda: _png(b"\x05\x00\x00" * 2, 2, 2), "unknown filter 5"),
        (lambda: _png(b"\x00" * 5, 2, 2), "decompressed size mismatch"),
        (lambda: _png(b"\x00" * 7, 2, 2), "exceeds IHDR"),
        (lambda: _png(b"\x00" * 6, 2, 2, comp=1), "nonstandard"),
        (lambda: _png(b"\x00" * 6, 2, 2, filt=1), "nonstandard"),
    ], ids=["truncated-chunk", "no-iend", "no-idat", "no-ihdr",
            "unknown-filter", "short-data", "one-byte-over",
            "compression-method", "filter-method"])
    def test_malformed_rejected(self, build, match):
        from docling_eval_spark.functions.png_codec import decode_png

        with pytest.raises(ValueError, match=match):
            decode_png(build())

    def test_idat_split_across_chunks(self):
        from docling_eval_spark.functions.png_codec import decode_png

        arr = _pattern(5, 4, 3, seed=11)
        raw = b"".join(b"\x00" + arr[y].tobytes() for y in range(5))
        got = decode_png(_png(raw, 4, 5, color=2, idat_parts=3))
        assert (got == arr).all()

    def test_bytes_after_iend_ignored(self):
        from docling_eval_spark.functions.png_codec import decode_png, encode_png

        arr = _pattern(4, 6, 4, seed=5)
        assert (decode_png(encode_png(arr) + b"\xde\xad" * 20) == arr).all()

    @pytest.mark.parametrize("ch, color", [(1, 0), (2, 4), (3, 2), (4, 6)])
    def test_encoder_header_and_chunk_order(self, ch, color):
        from docling_eval_spark.functions.png_codec import _chunks, encode_png

        payload = encode_png(np.zeros((3, 5, ch), dtype=np.uint8))
        chunks = list(_chunks(payload))  # verifies every CRC on the way
        assert [c for c, _ in chunks] == [b"IHDR", b"IDAT", b"IEND"]
        assert struct.unpack(">IIBBBBB", chunks[0][1]) == (
            5, 3, 8, color, 0, 0, 0)

    def test_synth_png_one_column(self):
        """A one-pixel-wide image has no gradient: R is 0, not a
        division by zero."""
        from docling_eval_spark.functions.png_codec import decode_png, synth_png

        a = decode_png(synth_png(9, 1, 4))
        assert a.shape == (4, 1, 3)
        assert (a[:, 0, 0] == 0).all()
        assert (a[:, 0, 1] == 94).all() and (a[:, 0, 2] == 179).all()

    def test_synth_png_cycles_every_filter(self):
        from docling_eval_spark.functions.png_codec import _chunks, synth_png

        w, h = 6, 12
        idat = b"".join(d for c, d in _chunks(synth_png(3, w, h))
                        if c == b"IDAT")
        raw = zlib.decompress(idat)
        assert [raw[y * (3 * w + 1)] for y in range(h)] == [
            y % 5 for y in range(h)]
