"""MJPEG-in-AVI container walk (operators/avi.py): round-trip
against the writer, sampling stride/cap semantics, the two-granularity
error contract, and the adversarial budgets."""

import struct

import numpy as np
import pytest

from atiesh_spark.operators.jpeg import encode_jpeg_baseline
from atiesh_spark.operators.avi import (
    MAX_FRAMES_PER_CONTAINER,
    _walk_avi_full,
    encode_avi_mjpeg,
    sample_frames_mjpeg,
)


def _patch_avih(avi: bytes, offset: int, payload: bytes) -> bytes:
    """Overwrite bytes at ``offset`` into the avih BODY (MainAVIHeader
    field offsets: 16 = dwTotalFrames, 32 = dwWidth, 36 = dwHeight)."""
    body = avi.index(b"avih") + 8
    return avi[: body + offset] + payload + avi[body + offset + len(payload):]


def _const_avi(n_frames=5, w=24, h=16, fps=25, base=11, step=29):
    """Constant-gray frames v_f = (base + step*f) % 256 at quality 100:
    the DC-only round trip is bit-exact (the q194 device), so decoded
    means are known integers."""
    frames = [
        encode_jpeg_baseline(
            np.full((h, w), (base + step * f) % 256, dtype=np.uint8),
            quality=100,
        )
        for f in range(n_frames)
    ]
    return encode_avi_mjpeg(frames, w, h, fps=fps), frames


class TestContainerWalk:
    def test_round_trip(self):
        avi, frames = _const_avi()
        usec, total, w, h, out, _ = _walk_avi_full(avi)
        assert (usec, total, w, h) == (40000, 5, 24, 16)
        assert out == frames

    def test_rec_list_grouping(self):
        # players emit LIST 'rec ' groups inside movi; the walk must
        # descend into them. Build one by rewrapping a 1-frame movi.
        avi, frames = _const_avi(n_frames=1)
        # locate the movi LIST and wrap its '00dc' chunk in a rec list
        m = avi.index(b"movi")
        (msz,) = struct.unpack("<I", avi[m - 4 : m])
        inner = avi[m + 4 : m - 4 + 4 + msz]  # the 00dc chunk(s)
        rec = b"LIST" + struct.pack("<I", 4 + len(inner)) + b"rec " + inner
        new_movi_body = b"movi" + rec
        rebuilt = (
            avi[: m - 8]
            + b"LIST"
            + struct.pack("<I", len(new_movi_body))
            + new_movi_body
        )
        # fix the RIFF size
        rebuilt = (
            rebuilt[:4] + struct.pack("<I", len(rebuilt) - 8) + rebuilt[8:]
        )
        _, _, _, _, out, _ = _walk_avi_full(rebuilt)
        assert out == frames

    def test_malformed_rejects(self):
        avi, _ = _const_avi()
        with pytest.raises(ValueError, match="RIFF/AVI"):
            _walk_avi_full(b"RIFF\x04\x00\x00\x00WAVE")
        with pytest.raises(ValueError, match="RIFF/AVI"):
            _walk_avi_full(avi[:8])
        with pytest.raises(ValueError, match="overruns"):
            _walk_avi_full(avi[:-10])  # idx1 truncated mid-chunk
        # hdrl whose avih is truncated
        bad = avi.replace(b"avih" + struct.pack("<I", 56),
                          b"avih" + struct.pack("<I", 2000), 1)
        with pytest.raises(ValueError, match="avih truncated"):
            _walk_avi_full(bad)
        # zero dimensions are degenerate
        zero = _patch_avih(avi, 32, struct.pack("<I", 0))  # dwWidth
        with pytest.raises(ValueError, match="degenerate"):
            _walk_avi_full(zero)

    def test_budgets(self):
        avi, _ = _const_avi(n_frames=1)
        # claim a gigapixel frame in avih: refused before any decode
        huge = _patch_avih(
            avi, 32, struct.pack("<II", 1 << 16, 1 << 16)  # dwWidth/H
        )
        with pytest.raises(ValueError, match="pixel budget"):
            _walk_avi_full(huge)
        # claim too many frames in avih
        many = _patch_avih(
            avi, 16, struct.pack("<I", MAX_FRAMES_PER_CONTAINER + 1)
        )  # dwTotalFrames
        with pytest.raises(ValueError, match="frames"):
            _walk_avi_full(many)


class TestSampleFramesMjpeg:
    def test_decode_stride_and_cap(self, spark):
        avi, _ = _const_avi(n_frames=6, fps=25)
        df = spark.createDataFrame([(1, bytearray(avi))],
                                   "media_id long, blob binary")
        rows = {
            r.frame_idx: r
            for r in sample_frames_mjpeg(
                df, "media_id", "blob", every_n=2, max_frames=2
            ).collect()
        }
        # stride 2 from 6 frames = idx 0,2,4; cap 2 keeps 0,2
        assert set(rows) == {0, 2}
        assert rows[0].ts_ms == 0 and rows[2].ts_ms == 80  # 2 * 40000us
        for idx, r in rows.items():
            v = float((11 + 29 * idx) % 256)
            assert (r.width, r.height) == (24, 16)
            assert (r.mean_r, r.mean_g, r.mean_b) == (v, v, v)
            assert r.error is None

    def test_container_error_is_one_row(self, spark):
        df = spark.createDataFrame(
            [(7, bytearray(b"RIFFxxxxJUNK")), (8, None)],
            "media_id long, blob binary",
        )
        rows = sample_frames_mjpeg(df, "media_id", "blob").collect()
        assert len(rows) == 2
        for r in rows:
            assert r.frame_idx is None and r.error is not None

    def test_bad_frame_is_row_not_failure(self, spark):
        avi, frames = _const_avi(n_frames=3)
        # corrupt frame 1's entropy bytes in place (same length)
        f1 = frames[1]
        pos = avi.index(f1)
        corrupted = (
            avi[: pos + len(f1) - 6]
            + b"\x00\x00\x00\x00"
            + avi[pos + len(f1) - 2 :]
        )
        df = spark.createDataFrame([(9, bytearray(corrupted))],
                                   "media_id long, blob binary")
        rows = {r.frame_idx: r for r in
                sample_frames_mjpeg(df, "media_id", "blob").collect()}
        assert set(rows) == {0, 1, 2}
        assert rows[0].error is None and rows[2].error is None
        assert rows[1].error is not None and rows[1].mean_r is None
        assert rows[1].ts_ms == 40  # timing still real

    def test_validation(self, spark):
        df = spark.createDataFrame([(1, bytearray(b""))],
                                   "media_id long, blob binary")
        with pytest.raises(ValueError, match="every_n"):
            sample_frames_mjpeg(df, "media_id", "blob", every_n=0)
        with pytest.raises(ValueError, match="max_frames"):
            sample_frames_mjpeg(df, "media_id", "blob", max_frames=0)


class TestDibAvi:
    """Round 9: uncompressed 'DIB ' AVI streams — bottom-up padded BGR
    frames — decode through the same samplers as MJPEG."""

    def _frames(self, n=4, h=6, w=5):
        import numpy as np

        rng = np.random.default_rng(9)
        return [rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
                for _ in range(n)]

    def test_dib_frame_round_trip(self):
        import numpy as np

        from atiesh_spark.operators.avi import (
            _dib_decode_frame,
            _dib_encode_frame,
        )

        for w in (1, 2, 3, 4, 5):  # every 4-byte pad residue
            fr = self._frames(1, 3, w)[0]
            assert np.array_equal(_dib_decode_frame(
                _dib_encode_frame(fr), w, 3), fr)

    def test_sampler_decodes_dib(self, spark):
        import numpy as np

        from atiesh_spark.operators.avi import (
            _walk_avi_full,
            encode_avi_dib,
            sample_frames_mjpeg,
        )

        frames = self._frames()
        avi = encode_avi_dib(frames, fps=10)
        assert _walk_avi_full(avi)[5] == "rgb"
        df = spark.createDataFrame([(1, bytearray(avi))],
                                   "media_id long, blob binary")
        rows = {r.frame_idx: r for r in
                sample_frames_mjpeg(df, "media_id", "blob").collect()}
        assert set(rows) == {0, 1, 2, 3}
        for i, fr in enumerate(frames):
            r = rows[i]
            assert r.error is None
            assert (r.width, r.height) == (5, 6)
            assert r.ts_ms == i * 100
            import pytest as _pt

            want = tuple(
                round(float(fr[:, :, c].mean()), 4) for c in range(3)
            )
            # FloatType is float32 on the wire; compare at its precision
            assert (r.mean_r, r.mean_g, r.mean_b) == _pt.approx(
                want, abs=1e-3
            )

    def test_bad_dib_frame_is_error_row(self, spark):
        import struct as st

        from atiesh_spark.operators.avi import (
            encode_avi_dib,
            sample_frames_mjpeg,
        )

        avi = bytearray(encode_avi_dib(self._frames(2)))
        # shrink the second 00db chunk size by 4: frame byte count no
        # longer matches stride*h -> per-frame error, sibling survives
        j = avi.index(b"00db", avi.index(b"00db") + 4)
        (sz,) = st.unpack("<I", avi[j + 4 : j + 8])
        avi[j + 4 : j + 8] = st.pack("<I", sz - 4)
        # remove the dropped bytes so the container stays aligned
        del avi[j + 8 + sz - 4 : j + 8 + sz]
        # fix RIFF + movi LIST sizes
        (riff,) = st.unpack("<I", avi[4:8])
        avi[4:8] = st.pack("<I", riff - 4)
        m = avi.index(b"movi")
        (msz,) = st.unpack("<I", avi[m - 4 : m])
        avi[m - 4 : m] = st.pack("<I", msz - 4)
        df = spark.createDataFrame([(1, bytes(avi))],
                                   "media_id long, blob binary")
        rows = {r.frame_idx: r for r in
                sample_frames_mjpeg(df, "media_id", "blob").collect()}
        assert rows[0].error is None
        assert rows[1].error is not None and "DIB frame" in rows[1].error
