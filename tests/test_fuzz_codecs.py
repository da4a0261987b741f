"""Hostile-bytes fuzz for the pure-numpy media codecs: whatever the
bytes, the contract is parse-or-typed-error — each ``_parse_*`` may
raise only the tuple its ``decode_*`` wrapper catches
``(ValueError, struct.error, IndexError, ZeroDivisionError,
OverflowError)`` — never an unexpected exception type, hang, or huge
allocation. Same two generators per target as test_fuzz_sources:
arbitrary bytes behind the magic prefix, and valid encoder output
with byte-level mutations (much deeper reach into the parse). The
watchdog exists because round 11 caught a REAL infinite loop this
way (PDF array compose at EOF); a hung example fails loudly instead
of freezing the suite."""

from __future__ import annotations

import os
import signal
import struct
from contextlib import contextmanager

import numpy as np
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from atiesh_spark.operators.avi import (
    _walk_avi_full,
    encode_avi_dib,
    encode_avi_mjpeg,
)
from atiesh_spark.operators.bmp import _parse_bmp, encode_bmp
from atiesh_spark.operators.gif import encode_gif, parse_gif_frames
from atiesh_spark.operators.jpeg import _parse_jpeg, encode_jpeg_baseline
from atiesh_spark.operators.jpeg_progressive import (
    encode_jpeg_progressive,
    parse_jpeg_progressive,
)
from atiesh_spark.operators.png import _parse_png, encode_png
from atiesh_spark.operators.tiff import _parse_tiff, encode_tiff
from atiesh_spark.sources.warc import encode_warc_records, parse_warc_blob

# The exact tuple every decode_* wrapper catches: anything else
# escaping a parser would kill a whole Arrow batch on the cluster.
TYPED = (ValueError, struct.error, IndexError, ZeroDivisionError,
         OverflowError)

# Soak knob: CI runs the default 120 examples; a long-running session
# can re-run the same suites at fuzz depth (e.g. 3000) without code
# edits via SPARK_GRAFT_FUZZ_EXAMPLES=3000 python -m pytest ...
FUZZ = settings(
    max_examples=int(os.environ.get("SPARK_GRAFT_FUZZ_EXAMPLES", "120")),
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)


@contextmanager
def watchdog(seconds: float = 20.0):
    def fire(signum, frame):
        raise AssertionError("codec hang: example exceeded watchdog")

    old = signal.signal(signal.SIGALRM, fire)
    signal.setitimer(signal.ITIMER_REAL, seconds)
    try:
        yield
    finally:
        signal.setitimer(signal.ITIMER_REAL, 0)
        signal.signal(signal.SIGALRM, old)


def _mutate(blob: bytes, edits: list[tuple[int, int]]) -> bytes:
    out = bytearray(blob)
    for pos, val in edits:
        out[pos % len(out)] = val
    return bytes(out)


_EDITS = st.lists(
    st.tuples(st.integers(0, 1 << 20), st.integers(0, 255)),
    min_size=1, max_size=8,
)

_RGB = np.arange(6 * 5 * 3, dtype=np.uint8).reshape(6, 5, 3) * 4
_GRAY = np.arange(6 * 5, dtype=np.uint8).reshape(6, 5) * 7
_PAL = np.stack([np.arange(16, dtype=np.uint8) * 16] * 3, axis=1)


def _check(parse, blob):
    """Run one parse under the watchdog; pass iff it returns or
    raises inside the typed-error contract."""
    try:
        with watchdog():
            parse(blob)
    except TYPED:
        pass


class TestJpegFuzz:
    @FUZZ
    @given(st.binary(max_size=400))
    def test_arbitrary_bytes(self, blob):
        _check(_parse_jpeg, b"\xff\xd8" + blob)

    @FUZZ
    @given(_EDITS, st.booleans(), st.integers(0, 2))
    def test_mutated_baseline(self, edits, subsample, restart):
        base = encode_jpeg_baseline(_RGB, quality=50,
                                    subsample=subsample,
                                    restart_interval=restart)
        _check(_parse_jpeg, _mutate(base, edits))

    @FUZZ
    @given(_EDITS)
    def test_mutated_progressive(self, edits):
        base = encode_jpeg_progressive(_RGB)
        _check(parse_jpeg_progressive, _mutate(base, edits))


class TestPngFuzz:
    @FUZZ
    @given(st.binary(max_size=400))
    def test_arbitrary_bytes(self, blob):
        _check(_parse_png, b"\x89PNG\r\n\x1a\n" + blob)

    @FUZZ
    @given(_EDITS, st.booleans(), st.booleans())
    def test_mutated_valid(self, edits, interlace, paletted):
        if paletted:
            idx = (_GRAY % 16).astype(np.uint8)
            base = encode_png(idx, palette=_PAL, interlace=interlace)
        else:
            base = encode_png(_RGB, interlace=interlace)
        _check(_parse_png, _mutate(base, edits))


class TestGifFuzz:
    @FUZZ
    @given(st.binary(max_size=400))
    def test_arbitrary_bytes(self, blob):
        _check(parse_gif_frames, b"GIF89a" + blob)

    @FUZZ
    @given(_EDITS, st.booleans())
    def test_mutated_valid(self, edits, interlace):
        frames = [(_GRAY % 16).astype(np.uint8),
                  ((_GRAY + 3) % 16).astype(np.uint8)]
        base = encode_gif(frames, _PAL, interlace=interlace)
        _check(parse_gif_frames, _mutate(base, edits))


class TestBmpFuzz:
    @FUZZ
    @given(st.binary(max_size=300))
    def test_arbitrary_bytes(self, blob):
        _check(_parse_bmp, b"BM" + blob)

    @FUZZ
    @given(_EDITS, st.booleans(), st.booleans())
    def test_mutated_valid(self, edits, top_down, paletted):
        if paletted:
            idx = (_GRAY % 16).astype(np.uint8)
            base = encode_bmp(idx, palette=_PAL, top_down=top_down)
        else:
            base = encode_bmp(_RGB, top_down=top_down)
        _check(_parse_bmp, _mutate(base, edits))


class TestTiffFuzz:
    @FUZZ
    @given(st.binary(max_size=300), st.booleans())
    def test_arbitrary_bytes(self, blob, be):
        magic = b"MM\x00*" if be else b"II*\x00"
        _check(_parse_tiff, magic + blob)

    @FUZZ
    @given(_EDITS, st.booleans(),
           st.sampled_from(["none", "packbits", "lzw"]))
    def test_mutated_valid(self, edits, big_endian, comp):
        base = encode_tiff(_RGB, big_endian=big_endian,
                           rows_per_strip=2,
                           packbits=comp == "packbits",
                           lzw=comp == "lzw")
        _check(_parse_tiff, _mutate(base, edits))


class TestAviFuzz:
    @FUZZ
    @given(st.binary(max_size=400))
    def test_arbitrary_bytes(self, blob):
        _check(_walk_avi_full, b"RIFF" + blob)

    @FUZZ
    @given(_EDITS, st.booleans())
    def test_mutated_valid(self, edits, dib):
        if dib:
            base = encode_avi_dib([_RGB, _RGB[::-1]])
        else:
            jf = encode_jpeg_baseline(_RGB, quality=50)
            base = encode_avi_mjpeg([jf, jf], 5, 6)
        _check(_walk_avi_full, _mutate(base, edits))


class TestWarcFuzz:
    """parse_warc_blob has the generator-of-rows contract: errors are
    rows, never raises (same as parse_zip_blob / parse_tar_blob)."""

    @FUZZ
    @given(st.binary(max_size=400))
    def test_arbitrary_bytes(self, blob):
        with watchdog():
            rows = list(parse_warc_blob(b"WARC/1.0\r\n" + blob))
        assert all(isinstance(r, dict) for r in rows)

    @FUZZ
    @given(_EDITS, st.booleans())
    def test_mutated_valid(self, edits, gz):
        base = encode_warc_records(
            [("http://a.example/x", b"<html>alpha</html>"),
             ("http://b.example/y", b"beta " * 30)],
            gzipped=gz,
        )
        with watchdog():
            rows = list(parse_warc_blob(_mutate(base, edits)))
        assert all(isinstance(r, dict) for r in rows)
