"""Hostile-bytes fuzz for the round-10 parsers: whatever the bytes,
the contract is parse-or-ValueError (the operators turn that into
error rows) — never an unexpected exception type, hang, or huge
allocation. Two generators per target: arbitrary bytes, and valid
fixtures with byte-level mutations (much deeper reach into the
parse)."""

from __future__ import annotations

import os
import signal
from contextlib import contextmanager

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from atiesh_spark.sources.tarsrc import parse_tar_blob
from atiesh_spark.sources.zipsrc import encode_zip, parse_zip_blob

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
    """Fail (don't freeze) if one example hangs: the round-11 suite
    run sat inside an infinite lexer loop for 30+ minutes because
    deadline=None has no hang protection. SIGALRM turns a hang into
    a failing example hypothesis can then shrink."""

    def fire(signum, frame):
        raise AssertionError("parser hang: example exceeded watchdog")

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


class TestArchiveFuzz:
    @FUZZ
    @given(_EDITS, st.booleans())
    def test_mutated_zip(self, edits, zip64):
        base = encode_zip([("a", b"hello " * 20), ("b", b"")],
                          zip64=zip64)
        rows = list(parse_zip_blob(_mutate(base, edits)))
        # generator-of-rows contract: errors are rows, never raises
        assert all(isinstance(r, dict) for r in rows)

    @FUZZ
    @given(st.binary(max_size=256))
    def test_arbitrary_tar_bytes(self, blob):
        rows = list(parse_tar_blob(blob + b"\x00" * ((-len(blob)) % 512)))
        assert all(isinstance(r, dict) for r in rows)

    @FUZZ
    @given(_EDITS, st.sampled_from(["xz", "bz2", "gz"]), st.integers(1, 3))
    def test_mutated_concatenated_streams(self, edits, comp, n_streams):
        """Round-11 path: multi-stream tar archives with byte-level
        damage anywhere (stream headers, checksums, the inter-stream
        boundary) must yield error ROWS, never raise."""
        import bz2 as _bz2
        import lzma as _lzma
        import zlib as _zlib

        from atiesh_spark.sources.tarsrc import encode_tar

        def one(b):
            if comp == "xz":
                return _lzma.compress(b, format=_lzma.FORMAT_XZ)
            if comp == "bz2":
                return _bz2.compress(b)
            co = _zlib.compressobj(6, _zlib.DEFLATED, 16 + 15)
            return co.compress(b) + co.flush()

        raw = encode_tar([("m%d" % i, b"payload %d " % i * 9)
                          for i in range(4)])
        cut = len(raw) // n_streams
        blob = b"".join(
            one(raw[i * cut: (i + 1) * cut if i < n_streams - 1 else None])
            for i in range(n_streams)
        )
        with watchdog():
            rows = list(parse_tar_blob(_mutate(blob, edits)))
        assert all(isinstance(r, dict) for r in rows)
