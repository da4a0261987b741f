"""Baseline TIFF codec (operators/tiff.py): round-trips across byte
orders, strip layouts, photometric polarities and palette color;
malformed/compressed rejection; Spark decode path."""

import numpy as np
import pytest

from atiesh_spark.operators.tiff import (
    _parse_tiff,
    decode_tiff,
    encode_tiff,
)

RNG = np.random.default_rng(4)


class TestRoundTrip:
    @pytest.mark.parametrize("big_endian", [False, True])
    @pytest.mark.parametrize("rps", [None, 1, 2, 4])
    def test_gray_strips_and_endians(self, big_endian, rps):
        g = RNG.integers(0, 256, (9, 7)).astype(np.uint8)
        got = _parse_tiff(
            encode_tiff(g, rows_per_strip=rps, big_endian=big_endian)
        )
        assert got[:3] == (7, 9, 1)
        assert np.array_equal(got[3], g)

    def test_white_is_zero_normalizes(self):
        """Photometric 0 stores inverted; the decoder must hand back
        the ORIGINAL polarity (and the stored bytes really are
        inverted, proving the flag does something)."""
        g = RNG.integers(0, 256, (4, 4)).astype(np.uint8)
        blob = encode_tiff(g, white_is_zero=True)
        got = _parse_tiff(blob)
        assert np.array_equal(got[3], g)
        assert (255 - g).tobytes() in blob  # inverted on the wire

    def test_rgb_and_palette(self):
        c = RNG.integers(0, 256, (5, 6, 3)).astype(np.uint8)
        got = _parse_tiff(encode_tiff(c, rows_per_strip=3, big_endian=True))
        assert got[:3] == (6, 5, 3)
        assert np.array_equal(got[3], c)
        idx = RNG.integers(0, 9, (4, 11)).astype(np.uint8)
        pal = RNG.integers(0, 256, (9, 3)).astype(np.uint8)
        got = _parse_tiff(encode_tiff(idx, palette=pal))
        assert np.array_equal(got[3], pal[idx])


class TestMalformed:
    def test_rejections(self):
        import struct

        g = RNG.integers(0, 256, (4, 4)).astype(np.uint8)
        good = encode_tiff(g)
        with pytest.raises(ValueError):
            _parse_tiff(b"")
        with pytest.raises(ValueError, match="byte order"):
            _parse_tiff(b"XX\x2a\x00\x08\x00\x00\x00")
        with pytest.raises(ValueError, match="magic"):
            _parse_tiff(b"II\x2b\x00\x08\x00\x00\x00")
        with pytest.raises(ValueError):
            _parse_tiff(good[:30])  # IFD truncated
        with pytest.raises(ValueError, match="strip overruns"):
            _parse_tiff(good[:-5])
        # flip Compression (tag 259) to JPEG-in-TIFF (7): unsupported
        jpg = bytearray(good)
        i = jpg.index(struct.pack("<HH", 259, 3))
        jpg[i + 8 : i + 10] = struct.pack("<H", 7)
        with pytest.raises(ValueError, match="TIFF supported"):
            _parse_tiff(bytes(jpg))
        # gigapixel IFD claim: refused before strip work
        huge = bytearray(good)
        j = huge.index(struct.pack("<HH", 256, 4))
        huge[j + 8 : j + 12] = struct.pack("<I", 1 << 20)
        k = huge.index(struct.pack("<HH", 257, 4))
        huge[k + 8 : k + 12] = struct.pack("<I", 1 << 20)
        with pytest.raises(ValueError, match="pixel budget"):
            _parse_tiff(bytes(huge))


def test_spark_decode(spark):
    g = np.full((4, 6), 90, dtype=np.uint8)
    rows = [
        (1, bytearray(encode_tiff(g, big_endian=True, rows_per_strip=2))),
        (2, bytearray(b"II*\x00garbage")),
        (3, None),
    ]
    df = spark.createDataFrame(rows, "media_id long, blob binary")
    got = {r.media_id: r for r in
           decode_tiff(df, "media_id", "blob").collect()}
    assert (got[1].format, got[1].width, got[1].height,
            got[1].n_channels, got[1].mean_r) == ("TIFF", 6, 4, 1, 90.0)
    assert got[2].error is not None and got[3].error is not None


class TestPackBits:
    def test_codec_round_trip(self):
        from atiesh_spark.operators.tiff import (
            _packbits_decode,
            _packbits_encode,
        )

        for data in (b"", b"a", b"a" * 300, b"ab" * 200, b"aaabccdddd",
                     bytes(RNG.integers(0, 256, 500))):
            assert _packbits_decode(_packbits_encode(data), len(data)) == data
        with pytest.raises(ValueError, match="truncated"):
            _packbits_decode(b"\x05ab", 6)  # literal cut short
        with pytest.raises(ValueError, match="expected"):
            _packbits_decode(b"\x00a", 5)  # too little output

    def test_tiff_packbits_strips(self):
        g = (RNG.integers(0, 4, (9, 7)) * 60).astype(np.uint8)
        blob = encode_tiff(g, rows_per_strip=2, big_endian=True,
                           packbits=True, white_is_zero=True)
        got = _parse_tiff(blob)
        assert np.array_equal(got[3], g)
        # the wire really is compressed: a run-heavy image shrinks
        runny = np.repeat(np.arange(16, dtype=np.uint8), 64).reshape(16, 64)
        assert len(encode_tiff(runny, packbits=True)) < len(
            encode_tiff(runny)
        )


class TestLzw:
    def test_codec_round_trip_widths_and_reset(self):
        from atiesh_spark.operators.tiff import (
            _lzw_decode_tiff,
            _lzw_encode_tiff,
        )

        rng = np.random.default_rng(8)
        for data in (b"", b"a", b"TOBEORNOTTOBEORTOBEORNOT",
                     b"a" * 5000, bytes(rng.integers(0, 256, 8000)),
                     bytes(rng.integers(0, 4, 20000)),
                     bytes(rng.integers(0, 256, 60000))):  # 12-bit + reset
            enc = _lzw_encode_tiff(data)
            assert _lzw_decode_tiff(enc, len(data)) == data
        with pytest.raises(ValueError, match="truncated"):
            _lzw_decode_tiff(_lzw_encode_tiff(b"abc")[:-2], 3)
        with pytest.raises(ValueError, match="exceeds"):
            _lzw_decode_tiff(_lzw_encode_tiff(b"abcdef"), 2)

    def test_known_minimal_stream(self):
        """Hand-computed wire bytes for 'ab': CLEAR(256) 'a'(97)
        'b'(98) EOI(257) as 9-bit MSB-first codes — pins the bit
        packing direction against the TIFF 6.0 spec, independent of
        the round trip."""
        from atiesh_spark.operators.tiff import _lzw_encode_tiff

        bits = ""
        for code in (256, 97, 98, 257):
            bits += format(code, "09b")
        bits += "0" * ((-len(bits)) % 8)
        want = bytes(int(bits[i:i + 8], 2) for i in range(0, len(bits), 8))
        assert _lzw_encode_tiff(b"ab") == want

    def test_tiff_lzw_strips(self):
        g = (RNG.integers(0, 4, (9, 7)) * 60).astype(np.uint8)
        blob = encode_tiff(g, rows_per_strip=2, big_endian=True, lzw=True)
        got = _parse_tiff(blob)
        assert np.array_equal(got[3], g)
        runny = np.repeat(np.arange(16, dtype=np.uint8), 64).reshape(16, 64)
        assert len(encode_tiff(runny, lzw=True)) < len(encode_tiff(runny))
